package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{QueryDef, Tables}
import graft.operators.Ranks

/** Analytics-mining depth: RFM segmentation (global quantile bucketing
  * without a single-task window), BM25 relevance scoring in exact
  * integer arithmetic, market-basket association rules
  * (confidence/lift), and robust MAD-based outlier screens. As
  * everywhere: every cross-engine ratio is scaled-integer division, and
  * wide products go through DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) so
  * nothing wraps at any scale factor.
  */
object MiningQueries {

  private def cents(c: Column): Column = floor(c * lit(100)).cast("long")

  val all: Seq[QueryDef] = Seq(

    // RFM customer segmentation: recency/frequency/monetary quartiles.
    // The quartile assignment is a GLOBAL ntile — on Spark that is the
    // classic single-task-window trap, so the implementation computes a
    // distributed global rank (range repartition + per-partition offsets,
    // Ranks.withGlobalRank) and applies the standard SQL NTILE bucket
    // rule (first n mod b buckets get ceil(n/b) rows) arithmetically.
    // The (metric, custkey) rank key is unique, so ties are deterministic
    // and both engines agree bucket-for-bucket.
    QueryDef.sql(
      "q181_rfm",
      """WITH rfm AS (
        |  SELECT o_custkey,
        |    date_diff('day', max(o_orderdate), TIMESTAMP '2001-12-31') AS r_days,
        |    COUNT(*) AS f_orders,
        |    SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS m_cents
        |  FROM orders GROUP BY 1),
        |b AS (SELECT o_custkey, m_cents,
        |    ntile(4) OVER (ORDER BY r_days,   o_custkey) AS r_q,
        |    ntile(4) OVER (ORDER BY f_orders, o_custkey) AS f_q,
        |    ntile(4) OVER (ORDER BY m_cents,  o_custkey) AS m_q
        |  FROM rfm)
        |SELECT CAST(r_q * 100 + f_q * 10 + m_q AS BIGINT) AS segment,
        |  COUNT(*) AS n_customers, CAST(SUM(m_cents) AS BIGINT) AS m_cents
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val rfm = Tables(s, dir).orders
        .groupBy("o_custkey")
        .agg(
          datediff(lit("2001-12-31").cast("date"), max(col("o_orderdate")))
            .cast("long").as("r_days"),
          count(lit(1)).as("f_orders"),
          sum(cents(col("o_totalprice"))).as("m_cents"))
      val (r1, n) = Ranks.withGlobalRankAndTotal(rfm, Seq("r_days", "o_custkey"), "r_rank")
      val r2 = Ranks.withGlobalRank(r1, Seq("f_orders", "o_custkey"), "f_rank")
      val r3 = Ranks.withGlobalRank(r2, Seq("m_cents", "o_custkey"), "m_rank")
      def ntile4(rank: String): Column = Ranks.ntileFromRank(col(rank), n, 4)
      r3.select(
          (ntile4("r_rank") * 100 + ntile4("f_rank") * 10 + ntile4("m_rank"))
            .cast("long").as("segment"),
          col("m_cents"))
        .groupBy("segment")
        .agg(count(lit(1)).as("n_customers"), sum("m_cents").as("m_cents"))
        .orderBy("segment")
    },

    // BM25 relevance scoring (k1 = 1.2, b = 0.75) for the corpus's top-5
    // document-frequency terms, in EXACT integer arithmetic: with
    // k1 = 6/5 and b = 3/4, multiplying the tf-saturation fraction
    // through by 20·T (T = total corpus tokens) clears every denominator
    //   tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    //     = 44·T·tf / (20·T·tf + 6·T + 18·dl·N)
    // and the log-free rational idf surrogate (N − df + ½)/(df + ½)
    // clears to (2N − 2df + 1)/(2df + 1). Both engines evaluate one
    // HUGEINT/DECIMAL(38,0) fraction — bit-identical, no ln() drift.
    // Shape: one (doc, term) aggregate feeds tf, df, and dl; the top-5
    // query terms are in-plan (no driver collect) and broadcast back.
    QueryDef.sql(
      "q182_bm25",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
        |       WHERE len(term) > 0 GROUP BY 1, 2),
        |dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |tot AS (SELECT SUM(dl) AS t_tokens, COUNT(*) AS n_docs FROM dl),
        |qt AS (SELECT term, df FROM df ORDER BY df DESC, term LIMIT 5),
        |sc AS (SELECT tf.doc_id,
        |    CAST(CAST(2*n_docs - 2*df + 1 AS HUGEINT) * 44 * t_tokens * tf * 1000000
        |      // (CAST(2*df + 1 AS HUGEINT)
        |         * (20 * t_tokens * tf + 6 * t_tokens + 18 * dl.dl * n_docs))
        |      AS BIGINT) AS score_ppm
        |  FROM tf JOIN qt USING (term) JOIN dl USING (doc_id) CROSS JOIN tot)
        |SELECT doc_id, COUNT(*) AS n_terms, CAST(SUM(score_ppm) AS BIGINT) AS bm25_ppm
        |FROM sc GROUP BY 1 ORDER BY bm25_ppm DESC, doc_id LIMIT 20""".stripMargin) { (s, dir) =>
      val tok = Tables(s, dir).documents
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .where(length(col("term")) > 0)
      val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
      val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val tot = dl.agg(sum("dl").as("t_tokens"), count(lit(1)).as("n_docs"))
      val qt = dfc.orderBy(col("df").desc, col("term")).limit(5)
      tf.join(broadcast(qt), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(tot))
        .select(col("doc_id"),
          expr("CAST(2*n_docs - 2*df + 1 AS DECIMAL(38,0)) * 44 * t_tokens * tf * 1000000" +
            " div (CAST(2*df + 1 AS DECIMAL(38,0))" +
            " * (20 * t_tokens * tf + 6 * t_tokens + 18 * dl * n_docs))").as("score_ppm"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms"), sum("score_ppm").as("bm25_ppm"))
        .orderBy(col("bm25_ppm").desc, col("doc_id"))
        .limit(20)
    },

    // Market-basket association rules over (order, part) baskets:
    // support-screened co-occurrence pairs (the self-join's cost follows
    // lines-per-order, never |lineitem|²), expanded to DIRECTED rules
    // with exact confidence = P(b|a) and lift = P(ab)/(P(a)·P(b)) in ppm.
    // The basket total and item counts ride as one broadcast row /
    // a broadcast dimension — the fact is scanned once for pairs and
    // once for counts.
    QueryDef.sql(
      "q183_assoc_rules",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li),
        |ic AS (SELECT l_partkey, COUNT(*) AS n_item FROM li GROUP BY 1),
        |pr AS (SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS n_ab
        |       FROM li a JOIN li b
        |         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |       GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |rules AS (SELECT u AS antecedent, v AS consequent, n_ab FROM pr
        |          UNION ALL
        |          SELECT v, u, n_ab FROM pr),
        |sc AS (SELECT antecedent, consequent, n_ab,
        |    CAST(CAST(n_ab AS HUGEINT) * 1000000 // a.n_item AS BIGINT) AS conf_ppm,
        |    CAST(CAST(n_ab AS HUGEINT) * n_orders * 1000000
        |      // (CAST(a.n_item AS HUGEINT) * c.n_item) AS BIGINT) AS lift_ppm
        |  FROM rules
        |  JOIN ic a ON antecedent = a.l_partkey
        |  JOIN ic c ON consequent = c.l_partkey
        |  CROSS JOIN tot)
        |SELECT antecedent, consequent, n_ab, conf_ppm, lift_ppm
        |FROM sc ORDER BY lift_ppm DESC, antecedent, consequent LIMIT 20""".stripMargin) { (s, dir) =>
      val li = Tables(s, dir).lineitem.select("l_orderkey", "l_partkey").distinct()
      val tot = li.agg(countDistinct("l_orderkey").as("n_orders"))
      val ic = li.groupBy("l_partkey").agg(count(lit(1)).as("n_item"))
      val a = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("u"))
      val b = li.select(col("l_orderkey").as("ok2"), col("l_partkey").as("v"))
      val pr = a.join(b, col("ok") === col("ok2") && col("u") < col("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("n_ab"))
        .where(col("n_ab") >= 2)
      val rules = pr.select(col("u").as("antecedent"), col("v").as("consequent"), col("n_ab"))
        .unionAll(pr.select(col("v").as("antecedent"), col("u").as("consequent"), col("n_ab")))
      rules
        .join(broadcast(ic.select(col("l_partkey"), col("n_item").as("n_a"))),
          col("antecedent") === col("l_partkey")).drop("l_partkey")
        .join(broadcast(ic.select(col("l_partkey"), col("n_item").as("n_c"))),
          col("consequent") === col("l_partkey")).drop("l_partkey")
        .crossJoin(broadcast(tot))
        .select(col("antecedent"), col("consequent"), col("n_ab"),
          expr("CAST(n_ab AS DECIMAL(38,0)) * 1000000 div n_a").as("conf_ppm"),
          expr("CAST(n_ab AS DECIMAL(38,0)) * n_orders * 1000000 div (CAST(n_a AS DECIMAL(38,0)) * n_c)")
            .as("lift_ppm"))
        .orderBy(col("lift_ppm").desc, col("antecedent"), col("consequent"))
        .limit(20)
    },

    // Robust outlier screen via MAD (median absolute deviation) — the
    // quality-filter cousin of q184's z-score that a heavy-tailed value
    // column needs. Everything stays integral: medians of integers land
    // on .0/.5 exactly (quantile_cont convention, both engines), so
    // doubling once per median level (med×2, MAD×4) keeps every
    // comparison in BIGINT: |x − med| > 3·MAD  ⟺  2·dev2 > 3·mad_x4
    // where dev2 = |2x − med_x2|. Two grouped exact-percentile passes +
    // one counting pass, each medians' 5-row result broadcast back.
    QueryDef.sql(
      "q184_mad_outliers",
      """WITH e AS (SELECT event_type, CAST(FLOOR(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |m AS (SELECT event_type, CAST(median(cents) * 2 AS BIGINT) AS med_x2
        |      FROM e GROUP BY 1),
        |d AS (SELECT e.event_type, med_x2, abs(cents * 2 - med_x2) AS dev2
        |      FROM e JOIN m USING (event_type)),
        |md AS (SELECT event_type, MIN(med_x2) AS med_x2, COUNT(*) AS n_rows,
        |         CAST(median(dev2) * 2 AS BIGINT) AS mad_x4
        |       FROM d GROUP BY 1)
        |SELECT d.event_type, MIN(n_rows) AS n_rows, MIN(md.med_x2) AS med_x2,
        |  MIN(mad_x4) AS mad_x4,
        |  CAST(SUM(CASE WHEN 2 * dev2 > 3 * mad_x4 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers
        |FROM d JOIN md USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir).events
        .select(col("event_type"), floor(col("value") * 100).cast("long").as("cents"))
      val m = e.groupBy("event_type")
        .agg((expr("percentile(cents, 0.5D)") * 2).cast("long").as("med_x2"))
      val d = e.join(broadcast(m), "event_type")
        .select(col("event_type"), col("med_x2"),
          abs(col("cents") * 2 - col("med_x2")).as("dev2"))
      val md = d.groupBy("event_type")
        .agg(min("med_x2").as("med_x2"), count(lit(1)).as("n_rows"),
          (expr("percentile(dev2, 0.5D)") * 2).cast("long").as("mad_x4"))
      d.drop("med_x2").join(broadcast(md), "event_type")
        .groupBy("event_type")
        .agg(min("n_rows").as("n_rows"), min("med_x2").as("med_x2"),
          min("mad_x4").as("mad_x4"),
          sum(when(col("dev2") * 2 > col("mad_x4") * 3, 1L).otherwise(0L))
            .as("n_outliers"))
        .orderBy("event_type")
    },

    // Weighted single-source shortest paths (Bellman-Ford, 3 supersteps)
    // over the nation trade graph (q128's edge derivation, weighted:
    // w = 10⁹ div trade-row-count, so heavy trade routes are short).
    // Spark relaxes via join + union + MIN-regroup per superstep — one
    // shuffle each, cost follows |frontier|·outdeg, a fixed-iteration
    // Pregel-as-joins. The oracle walks the same graph with a bounded
    // recursive CTE and takes MIN(dist) per node; with ≤3 hops both
    // computations enumerate identical path sets, and integer weights
    // make every distance exact.
    QueryDef.sql(
      "q185_sssp",
      """WITH RECURSIVE e AS MATERIALIZED (
        |  SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
        |    CAST(1000000000 // COUNT(*) AS BIGINT) AS w
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  WHERE s.s_nationkey <> c.c_nationkey
        |  GROUP BY 1, 2),
        |p(n, d, hops) AS (
        |  SELECT (SELECT MIN(src) FROM e), CAST(0 AS BIGINT), 0
        |  UNION ALL
        |  SELECT e.dst, p.d + e.w, p.hops + 1
        |  FROM p JOIN e ON p.n = e.src WHERE p.hops < 3)
        |SELECT nt.n_name AS nation, CAST(MIN(p.d) AS BIGINT) AS dist_scaled
        |FROM p JOIN nation nt ON p.n = nt.n_nationkey
        |GROUP BY 1 ORDER BY dist_scaled, nation""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      val e = t.lineitem
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
        .where(col("s_nationkey") =!= col("c_nationkey"))
        .groupBy(col("s_nationkey").as("src"), col("c_nationkey").as("dst"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("src"), col("dst"), expr("1000000000L div cnt").as("w"))
      var dist = e.agg(min("src").as("n")).select(col("n"), lit(0L).as("d"))
      for (_ <- 1 to 3) {
        val relax = dist.select(col("n").as("dn"), col("d").as("dd"))
          .join(e, col("dn") === col("src"))
          .select(col("dst").as("n"), (col("dd") + col("w")).as("d"))
        dist = dist.union(relax).groupBy("n").agg(min("d").as("d"))
      }
      dist.join(broadcast(t.nation), col("n") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("d").as("dist_scaled"))
        .orderBy("dist_scaled", "nation")
    },

    // Flesch-style readability scoring in exact integer arithmetic:
    // words w (whitespace tokens), sentence proxy s = ceil(w/15) (the
    // synthetic corpus has no terminal punctuation — a 15-word span
    // stands in), syllable proxy y = vowel-run count (maximal [aeiou]+
    // groups, the classic heuristic). The 206.835 − 1.015·w/s − 84.6·y/w
    // formula is evaluated as ONE milli-scaled fraction
    // (206835·s·w − 1015·w² − 84600·y·s)/(s·w) routed through
    // DOUBLE + FLOOR (numerators < 2⁵³ are IEEE-exact; q164's
    // negative-safe division convention). One map-only pass + one 20-row
    // aggregate — the shape of every corpus quality screen.
    QueryDef.sql(
      "q186_readability",
      """WITH d AS (SELECT source,
        |    len(string_split(text, ' ')) AS w,
        |    (len(string_split(text, ' ')) + 14) // 15 AS s,
        |    len(regexp_replace(lower(text), '[aeiou]+', '#', 'g'))
        |      - len(regexp_replace(lower(text), '[aeiou]+', '', 'g')) AS y
        |  FROM documents),
        |sc AS (SELECT source,
        |    CAST(FLOOR(CAST(206835 * s * w - 1015 * w * w - 84600 * y * s AS DOUBLE)
        |      / CAST(s * w AS DOUBLE)) AS BIGINT) AS score_milli
        |  FROM d)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(score_milli) AS BIGINT) AS sum_score,
        |  CAST(MIN(score_milli) AS BIGINT) AS min_score,
        |  CAST(MAX(score_milli) AS BIGINT) AS max_score
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents.select(col("source"),
        size(split(col("text"), " ")).cast("long").as("w"),
        expr("(size(split(text, ' ')) + 14) div 15").cast("long").as("s"),
        (length(regexp_replace(lower(col("text")), "[aeiou]+", "#"))
          - length(regexp_replace(lower(col("text")), "[aeiou]+", "")))
          .cast("long").as("y"))
      d.select(col("source"),
          floor((col("w") * col("s") * 206835 - col("w") * col("w") * 1015
            - col("y") * col("s") * 84600).cast("double")
            / (col("s") * col("w")).cast("double")).cast("long").as("score_milli"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("score_milli").as("sum_score"),
          min("score_milli").as("min_score"), max("score_milli").as("max_score"))
        .orderBy("source")
    },

    // Sequential pattern mining: the most frequent 3-event user paths
    // (event-type trigrams in per-user time order). Two LEADs over one
    // (user, ts, event_id) window — a single shuffle/sort — then a
    // map-side-combined trigram count. The (ts, event_id) ordering key
    // is unique, so both engines see identical sequences.
    QueryDef.sql(
      "q187_event_paths",
      """WITH o AS (SELECT user_id, event_type AS e1,
        |    lead(event_type, 1) OVER w AS e2,
        |    lead(event_type, 2) OVER w AS e3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT e1, e2, e3, COUNT(*) AS n_paths
        |FROM o WHERE e3 IS NOT NULL
        |GROUP BY 1, 2, 3 ORDER BY n_paths DESC, e1, e2, e3 LIMIT 25""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables(s, dir).events
        .select(col("user_id"), col("event_type").as("e1"),
          lead(col("event_type"), 1).over(w).as("e2"),
          lead(col("event_type"), 2).over(w).as("e3"))
        .where(col("e3").isNotNull)
        .groupBy("e1", "e2", "e3").agg(count(lit(1)).as("n_paths"))
        .orderBy(col("n_paths").desc, col("e1"), col("e2"), col("e3"))
        .limit(25)
    },

    // Day-over-day growth per event type: LAG over the aggregated
    // daily series (window cost = |days×types|, never |events| — the
    // fixture's events span ~one month, so the daily grain is the one
    // with a real prior period at every SF),
    // growth in ppm via DOUBLE + FLOOR — growth is SIGNED, and floor
    // division is the one integer convention the engines share for
    // negatives (DuckDB // floors, Spark div truncates — q164's rule).
    QueryDef.sql(
      "q188_dod_growth",
      """WITH m AS (SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS ym,
        |    COUNT(*) AS n, SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT event_type, ym, n, cents,
        |    lag(n) OVER w AS pn, lag(cents) OVER w AS pc
        |  FROM m WINDOW w AS (PARTITION BY event_type ORDER BY ym))
        |SELECT event_type, ym, CAST(n AS BIGINT) AS n_events,
        |  CAST(FLOOR(1000000.0 * (n - pn) / pn) AS BIGINT) AS growth_ppm,
        |  CAST(FLOOR(1000000.0 * (cents - pc) / pc) AS BIGINT) AS cents_growth_ppm
        |FROM g WHERE pn IS NOT NULL ORDER BY event_type, ym""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val m = Tables(s, dir).events
        .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("ym"))
        .agg(count(lit(1)).as("n"), sum(floor(col("value") * 100).cast("long")).as("cents"))
      val w = Window.partitionBy("event_type").orderBy("ym")
      m.select(col("event_type"), col("ym"), col("n"), col("cents"),
          lag("n", 1).over(w).as("pn"), lag("cents", 1).over(w).as("pc"))
        .where(col("pn").isNotNull)
        .select(col("event_type"), col("ym"), col("n").as("n_events"),
          floor(lit(1000000.0) * (col("n") - col("pn")) / col("pn")).cast("long")
            .as("growth_ppm"),
          floor(lit(1000000.0) * (col("cents") - col("pc")) / col("pc")).cast("long")
            .as("cents_growth_ppm"))
        .orderBy("event_type", "ym")
    },

    // BPE merge training, 3 iterations — the tokenizer-building corpus
    // op: count weighted adjacent symbol pairs over the (distinct word,
    // count) table (exactly how real BPE trains: word counts, not the
    // raw corpus), pick the argmax pair (count desc, pair asc — a total
    // tie-break), splice it everywhere, repeat. Each iteration is one
    // explode + map-side-combined SUM + a 1-row broadcast back; the
    // merge itself is a pure projection (replace() is leftmost
    // non-overlapping in both engines, the exact BPE splice rule). The
    // oracle unrolls the same three iterations as chained CTEs.
    QueryDef.sql(
      "q189_bpe_train",
      """WITH w0 AS (SELECT word, COUNT(*) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE len(word) > 0 GROUP BY 1),
        |s0 AS (SELECT array_to_string(list_filter(string_split(word, ''), c -> len(c) > 0), ' ') AS s, cnt FROM w0),
        |x1 AS (SELECT string_split(s, ' ') AS ws, cnt FROM s0),
        |p1 AS (SELECT pair, SUM(cnt) AS pc FROM (
        |    SELECT unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS pair, cnt FROM x1)
        |  GROUP BY 1),
        |b1 AS (SELECT pair, pc FROM p1 ORDER BY pc DESC, pair LIMIT 1),
        |s1 AS (SELECT replace(s, b1.pair, replace(b1.pair, ' ', '')) AS s, cnt FROM s0 CROSS JOIN b1),
        |x2 AS (SELECT string_split(s, ' ') AS ws, cnt FROM s1),
        |p2 AS (SELECT pair, SUM(cnt) AS pc FROM (
        |    SELECT unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS pair, cnt FROM x2)
        |  GROUP BY 1),
        |b2 AS (SELECT pair, pc FROM p2 ORDER BY pc DESC, pair LIMIT 1),
        |s2 AS (SELECT replace(s, b2.pair, replace(b2.pair, ' ', '')) AS s, cnt FROM s1 CROSS JOIN b2),
        |x3 AS (SELECT string_split(s, ' ') AS ws, cnt FROM s2),
        |p3 AS (SELECT pair, SUM(cnt) AS pc FROM (
        |    SELECT unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS pair, cnt FROM x3)
        |  GROUP BY 1),
        |b3 AS (SELECT pair, pc FROM p3 ORDER BY pc DESC, pair LIMIT 1)
        |SELECT it, merged, pair_count FROM (
        |  SELECT CAST(1 AS BIGINT) AS it, pair AS merged, CAST(pc AS BIGINT) AS pair_count FROM b1
        |  UNION ALL SELECT CAST(2 AS BIGINT), pair, CAST(pc AS BIGINT) FROM b2
        |  UNION ALL SELECT CAST(3 AS BIGINT), pair, CAST(pc AS BIGINT) FROM b3)
        |ORDER BY it""".stripMargin) { (s, dir) =>
      val words = Tables(s, dir).documents
        .select(explode(split(col("text"), " ")).as("word"))
        .where(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("cnt"))
      var corpus = words.select(
        expr("array_join(filter(split(word, ''), c -> c != ''), ' ')").as("s"),
        col("cnt"))
      def bestPair(c: org.apache.spark.sql.DataFrame) = c
        .select(split(col("s"), " ").as("ws"), col("cnt"))
        .where(size(col("ws")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(ws) - 1), i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"))
          .as("pair"), col("cnt"))
        .groupBy("pair").agg(sum("cnt").as("pc"))
        .orderBy(col("pc").desc, col("pair")).limit(1)
      val merges = (1 to 3).map { it =>
        val b = bestPair(corpus)
        val out = b.select(lit(it.toLong).as("it"), col("pair").as("merged"),
          col("pc").as("pair_count"))
        corpus = corpus.crossJoin(broadcast(b))
          .select(expr("replace(s, pair, replace(pair, ' ', ''))").as("s"), col("cnt"))
        out
      }
      merges.reduce(_ unionAll _).orderBy("it")
    },

    // Calendar-function surface over the order dates (quarter / ISO week
    // / last_day / day-of-week): one map-only projection + a
    // year×quarter aggregate. The engines' only convention gap is
    // day-of-week numbering (Spark: Sunday=1, DuckDB: Sunday=0) —
    // normalized to DuckDB's 0-based form.
    QueryDef.sql(
      "q190_datetime",
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS q,
        |  COUNT(*) AS n_orders,
        |  CAST(COUNT(DISTINCT weekofyear(o_orderdate)) AS BIGINT) AS n_weeks,
        |  CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) = last_day(o_orderdate)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_month_end,
        |  CAST(SUM(dayofweek(o_orderdate)) AS BIGINT) AS dow_sum
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      Tables(s, dir).orders
        .groupBy(year(col("o_orderdate")).cast("long").as("y"),
          quarter(col("o_orderdate")).cast("long").as("q"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(weekofyear(col("o_orderdate"))).as("n_weeks"),
          sum(when(col("o_orderdate").cast("date") === last_day(col("o_orderdate")), 1L)
            .otherwise(0L)).as("n_month_end"),
          sum(dayofweek(col("o_orderdate")).cast("long") - 1).as("dow_sum"))
        .orderBy("y", "q")
    },

    // String-function surface (left/right/lpad/reverse/translate/
    // strpos/split_part/repeat) — the canonical-projection toolkit the
    // reference's data-compare renderer leans on, exercised as one
    // codegen'd map-only projection over a deterministic part sample.
    QueryDef.sql(
      "q191_strings",
      """SELECT p_partkey,
        |  upper(left(p_name, 5)) AS u5,
        |  lower(right(p_name, 4)) AS l4,
        |  lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded,
        |  reverse(substr(p_name, 1, 6)) AS rev6,
        |  translate(p_name, 'aeiou', '#####') AS tr,
        |  CAST(strpos(p_name, 'a') AS BIGINT) AS pa,
        |  split_part(p_name, 'a', 1) AS head_a,
        |  repeat('x', CAST(p_partkey % 4 AS INTEGER)) AS xs
        |FROM part WHERE p_partkey % 50 = 0 ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      Tables(s, dir).part
        .where(col("p_partkey") % 50 === 0)
        .select(col("p_partkey"),
          upper(expr("left(p_name, 5)")).as("u5"),
          lower(expr("right(p_name, 4)")).as("l4"),
          lpad(col("p_partkey").cast("string"), 8, "0").as("padded"),
          reverse(substring(col("p_name"), 1, 6)).as("rev6"),
          translate(col("p_name"), "aeiou", "#####").as("tr"),
          instr(col("p_name"), "a").cast("long").as("pa"),
          expr("split_part(p_name, 'a', 1)").as("head_a"),
          expr("repeat('x', CAST(p_partkey % 4 AS INT))").as("xs"))
        .orderBy("p_partkey")
    },

    // Rolling 7-day regression slope (trailing window over the DAILY
    // aggregated series — window cost |days×types|, never |events|):
    // the r²-style statistic stays rational, so slope and fit emit as
    // exact scaled-integer fractions of windowed DECIMAL(38,0)/HUGEINT
    // power sums (q153's closed forms, windowed). x = epoch day index,
    // y = daily cents.
    QueryDef.sql(
      "q192_rolling_regr",
      """WITH d AS (SELECT event_type,
        |    CAST(epoch(date_trunc('day', ts)) // 86400 AS BIGINT) AS x,
        |    SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS y
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, x, y,
        |    COUNT(*) OVER f AS n,
        |    SUM(CAST(x AS HUGEINT)) OVER f AS sx,
        |    SUM(CAST(y AS HUGEINT)) OVER f AS sy,
        |    SUM(CAST(x AS HUGEINT) * x) OVER f AS sxx,
        |    SUM(CAST(x AS HUGEINT) * y) OVER f AS sxy
        |  FROM d
        |  WINDOW f AS (PARTITION BY event_type ORDER BY x
        |               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT event_type, x, CAST(y AS BIGINT) AS y_cents,
        |  CAST(CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        |    ELSE FLOOR(1000.0 * CAST(n * sxy - sx * sy AS DOUBLE)
        |               / CAST(n * sxx - sx * sx AS DOUBLE)) END AS BIGINT)
        |    AS slope_milli
        |FROM w WHERE n = 7 ORDER BY event_type, x""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val dec = "decimal(38,0)"
      val d = Tables(s, dir).events
        .groupBy(col("event_type"),
          expr("unix_seconds(date_trunc('day', ts)) div 86400").cast("long").as("x"))
        .agg(sum(floor(col("value") * 100).cast("long")).as("y"))
      val f = Window.partitionBy("event_type").orderBy("x").rowsBetween(-6, 0)
      d.select(col("event_type"), col("x"), col("y"),
          count(lit(1)).over(f).as("n"),
          sum(col("x").cast(dec)).over(f).as("sx"),
          sum(col("y").cast(dec)).over(f).as("sy"),
          sum((col("x").cast(dec) * col("x"))).over(f).as("sxx"),
          sum((col("x").cast(dec) * col("y"))).over(f).as("sxy"))
        .where(col("n") === 7)
        .select(col("event_type"), col("x"), col("y").as("y_cents"),
          // slope is SIGNED: floor over an exact double ratio (q153's
          // convention) — integer div/​// disagree on negatives
          when(col("n") * col("sxx") - col("sx") * col("sx") === 0, lit(null))
            .otherwise(floor(lit(1000.0)
              * (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
              / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")))
            .cast("long").as("slope_milli"))
        .orderBy("event_type", "x")
    },

    // EXACT exponential smoothing (EWMA, α = ½) — the determinism trick:
    // with a power-of-two α the recurrence s_t = (x_t + s_{t-1})/2 has
    // the closed form s_t = num_t / 2^(t+1) where
    // num_t = 2·x_0 + Σ_{i≥1} x_i·2^i is a plain CUMULATIVE SUM of
    // bit-shifted daily values — one window pass over the aggregated
    // series, and the final floor-division is exact integer arithmetic
    // in both engines (no float accumulation drift, ever). The closed
    // form needs a bounded horizon (shifts grow with the series index;
    // the fixtures span 30 days at every SF) — an unbounded production
    // series would fold a trailing ~40-row frame instead (aggregate()
    // over collect_list: acc*2 + x — same exactness, bounded shifts).
    QueryDef.sql(
      "q193_ewma",
      """WITH d AS (SELECT event_type,
        |    strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS x
        |  FROM events GROUP BY 1, 2),
        |i AS (SELECT event_type, day, x,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) - 1 AS BIGINT) AS t
        |  FROM d),
        |c AS (SELECT event_type, day, x, t,
        |    SUM(x << CAST(CASE WHEN t = 0 THEN 1 ELSE t END AS INTEGER))
        |      OVER (PARTITION BY event_type ORDER BY t) AS num
        |  FROM i)
        |SELECT event_type, day, CAST(x AS BIGINT) AS x_cents,
        |  CAST(num // (CAST(1 AS BIGINT) << CAST(t + 1 AS INTEGER)) AS BIGINT) AS ewma_cents
        |FROM c ORDER BY event_type, day""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d = Tables(s, dir).events
        .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(sum(floor(col("value") * 100).cast("long")).as("x"))
      val wo = Window.partitionBy("event_type").orderBy("day")
      val i = d.select(col("event_type"), col("day"), col("x"),
        (row_number().over(wo) - 1).cast("long").as("t"))
      val wc = Window.partitionBy("event_type").orderBy("t")
      i.select(col("event_type"), col("day"), col("x"), col("t"),
          sum(expr("CAST(shiftleft(x, CAST(CASE WHEN t = 0 THEN 1 ELSE t END AS INT)) AS DECIMAL(38,0))"))
            .over(wc).as("num"))
        .select(col("event_type"), col("day"), col("x").as("x_cents"),
          expr("CAST(num div CAST(shiftleft(1L, CAST(t + 1 AS INT)) AS DECIMAL(38,0)) AS BIGINT)")
            .as("ewma_cents"))
        .orderBy("event_type", "day")
    },

    // Chi-square contingency screen: is event_type independent of
    // day-of-week? Each cell's (O−E)²/E contribution stays rational —
    // (O·T − R·C)²·10⁶ / (R·C·T) — and emits as an exact per-cell ppm
    // BIGINT (the documented convention: cell-floored χ², so the engines
    // agree bit-for-bit; no float expected-count drift). One contingency
    // aggregate + broadcast marginals.
    QueryDef.sql(
      "q194_chi2",
      """WITH o AS (SELECT event_type, dayofweek(ts) AS dow, COUNT(*) AS obs
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, SUM(obs) AS rn FROM o GROUP BY 1),
        |c AS (SELECT dow, SUM(obs) AS cn FROM o GROUP BY 1),
        |t AS (SELECT SUM(obs) AS tn FROM o)
        |SELECT o.event_type, CAST(o.dow AS BIGINT) AS dow, CAST(obs AS BIGINT) AS obs,
        |  CAST(CAST(rn AS HUGEINT) * cn // tn AS BIGINT) AS expected_floor,
        |  CAST((CAST(obs AS HUGEINT) * tn - CAST(rn AS HUGEINT) * cn)
        |       * (CAST(obs AS HUGEINT) * tn - CAST(rn AS HUGEINT) * cn) * 1000000
        |    // (CAST(rn AS HUGEINT) * cn * tn) AS BIGINT) AS chi2_cell_ppm
        |FROM o JOIN r USING (event_type) JOIN c USING (dow) CROSS JOIN t
        |ORDER BY event_type, dow""".stripMargin) { (s, dir) =>
      val o = Tables(s, dir).events
        .groupBy(col("event_type"), (dayofweek(col("ts")) - 1).cast("long").as("dow"))
        .agg(count(lit(1)).as("obs"))
      val r = o.groupBy("event_type").agg(sum("obs").as("rn"))
      val c = o.groupBy("dow").agg(sum("obs").as("cn"))
      val t = o.agg(sum("obs").as("tn"))
      o.join(broadcast(r), "event_type")
        .join(broadcast(c), "dow")
        .crossJoin(broadcast(t))
        .select(col("event_type"), col("dow"), col("obs"),
          expr("CAST(CAST(rn AS DECIMAL(38,0)) * cn div tn AS BIGINT)").as("expected_floor"),
          expr("CAST((CAST(obs AS DECIMAL(38,0)) * tn - CAST(rn AS DECIMAL(38,0)) * cn)" +
            " * (CAST(obs AS DECIMAL(38,0)) * tn - CAST(rn AS DECIMAL(38,0)) * cn) * 1000000" +
            " div (CAST(rn AS DECIMAL(38,0)) * cn * tn) AS BIGINT)").as("chi2_cell_ppm"))
        .orderBy("event_type", "dow")
    },

    // Global percentile rank of every customer's spend — PERCENT_RANK
    // over the whole table is the single-task-window trap (q181's
    // sibling): the distributed global rank substitutes, and because the
    // (m_cents, custkey) order key is unique, rank ≡ row_number ≡ SQL
    // RANK, so pct_ppm = (rank−1)·10⁶ div (n−1) reproduces PERCENT_RANK
    // exactly — in integer arithmetic, immune to the double-rounding
    // edge where floor(1e6·(rank−1)/(n−1)) rounds up past the true
    // floor.
    QueryDef.sql(
      "q195_global_pctrank",
      """WITH m AS (SELECT o_custkey,
        |    SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS m_cents
        |  FROM orders GROUP BY 1),
        |r AS (SELECT o_custkey, m_cents,
        |    row_number() OVER (ORDER BY m_cents, o_custkey) AS rk,
        |    COUNT(*) OVER () AS n FROM m)
        |SELECT o_custkey, CAST(m_cents AS BIGINT) AS m_cents,
        |  CAST((rk - 1) * 1000000 // (n - 1) AS BIGINT) AS pct_ppm
        |FROM r WHERE o_custkey % 7 = 0 ORDER BY o_custkey""".stripMargin) { (s, dir) =>
      val m = Tables(s, dir).orders
        .groupBy("o_custkey")
        .agg(sum(cents(col("o_totalprice"))).as("m_cents"))
      val (ranked, n) = Ranks.withGlobalRankAndTotal(m, Seq("m_cents", "o_custkey"), "rk")
      ranked
        .select(col("o_custkey"), col("m_cents"),
          expr(s"(rk - 1) * 1000000L div ${n - 1}L").as("pct_ppm"))
        .where(col("o_custkey") % 7 === 0)
        .orderBy("o_custkey")
    },

    // Weighted median (quantity weighted by revenue cents) per return
    // flag: collapse to per-(flag, qty) weight sums FIRST — the running
    // weight then cumulates over ≤50 distinct quantities per flag, not
    // |lineitem| rows — and pick the smallest qty whose inclusive
    // cumulative weight reaches half the total (the lower weighted
    // median, all in BIGINT).
    QueryDef.sql(
      "q196_weighted_median",
      """WITH g AS (SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS qty,
        |    SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (SELECT flag, qty, w,
        |    SUM(w) OVER (PARTITION BY flag ORDER BY qty
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |    SUM(w) OVER (PARTITION BY flag) AS tw
        |  FROM g)
        |SELECT flag, CAST(MIN(qty) AS BIGINT) AS w_median_qty,
        |  CAST(MIN(tw) AS BIGINT) AS total_weight
        |FROM c WHERE 2 * cw >= tw GROUP BY flag ORDER BY flag""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val g = Tables(s, dir).lineitem
        .groupBy(col("l_returnflag").as("flag"), col("l_quantity").cast("long").as("qty"))
        .agg(sum(cents(col("l_extendedprice"))).as("w"))
      val cw = Window.partitionBy("flag").orderBy("qty")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tw = Window.partitionBy("flag")
      g.select(col("flag"), col("qty"), sum("w").over(cw).as("cw"), sum("w").over(tw).as("tw"))
        .where(col("cw") * 2 >= col("tw"))
        .groupBy("flag")
        .agg(min("qty").as("w_median_qty"), min("tw").as("total_weight"))
        .orderBy("flag")
    },

    // Two-sample Kolmogorov-Smirnov statistic (click vs view value
    // distributions), EXACT and distributed: per distinct value the two
    // empirical CDFs need global running counts — computed with the
    // distributed prefix sum (range repartition + per-partition offsets,
    // Ranks.withRunningTotal), never a single-task global window. The
    // sup-distance clears denominators: D = max |c1·n2 − c2·n1| and
    // d_ppm = D·10⁶ div (n1·n2) — all integer, no CDF doubles. The
    // oracle's plain window cumsum is DuckDB-single-node-fine; the Spark
    // side is the 100 TB shape.
    QueryDef.sql(
      "q197_ks_test",
      """WITH e AS (SELECT CAST(FLOOR(value * 100) AS BIGINT) AS v,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS s1,
        |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS s2
        |  FROM events WHERE event_type IN ('click', 'view')),
        |g AS (SELECT v, SUM(s1) AS c1, SUM(s2) AS c2 FROM e GROUP BY 1),
        |c AS (SELECT v,
        |    SUM(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k1,
        |    SUM(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k2
        |  FROM g),
        |t AS (SELECT SUM(s1) AS n1, SUM(s2) AS n2 FROM e),
        |d AS (SELECT v, abs(k1 * n2 - k2 * n1) AS dn FROM c CROSS JOIN t)
        |SELECT (SELECT CAST(n1 AS BIGINT) FROM t) AS n1,
        |  (SELECT CAST(n2 AS BIGINT) FROM t) AS n2,
        |  CAST(MIN(v) AS BIGINT) AS at_value,
        |  CAST(CAST(MAX(dn) AS HUGEINT) * 1000000
        |    // ((SELECT n1 FROM t) * (SELECT CAST(n2 AS HUGEINT) FROM t)) AS BIGINT) AS d_ppm
        |FROM d WHERE dn = (SELECT MAX(dn) FROM d)""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir).events
        .where(col("event_type").isin("click", "view"))
        .select(floor(col("value") * 100).cast("long").as("v"),
          when(col("event_type") === "click", 1L).otherwise(0L).as("s1"),
          when(col("event_type") === "view", 1L).otherwise(0L).as("s2"))
      val g = e.groupBy("v").agg(sum("s1").as("c1"), sum("s2").as("c2"))
      val k1 = Ranks.withRunningTotal(g, Seq("v"), col("c1"), "k1")
      val k2 = Ranks.withRunningTotal(k1, Seq("v"), col("c2"), "k2")
      val t = e.agg(sum("s1").as("n1"), sum("s2").as("n2"))
      val d = k2.crossJoin(broadcast(t))
        .select(col("v"), col("n1"), col("n2"),
          abs(col("k1") * col("n2") - col("k2") * col("n1")).as("dn"))
      val dmax = d.agg(max("dn").as("dmax"))
      d.join(broadcast(dmax), col("dn") === col("dmax"))
        .groupBy("n1", "n2")
        .agg(min("v").as("at_value"),
          expr("CAST(CAST(MAX(dn) AS DECIMAL(38,0)) * 1000000 div (n1 * CAST(n2 AS DECIMAL(38,0))) AS BIGINT)")
            .as("d_ppm"))
        .select(col("n1"), col("n2"), col("at_value"), col("d_ppm"))
    },

    // Bottom-k sample per source — the MERGEABLE uniform sample: the k
    // smallest portable-hash values of a partition's keys union to the
    // k smallest of the whole set (the bottom-k sketch, the distributed
    // answer to reservoir sampling). Runs on the native two-phase
    // top-k-per-group operator (bounded heaps both sides of the
    // shuffle, q106's plan) over a composite (hash, doc_id) key so ties
    // are total; the oracle is the window row_number filter.
    QueryDef.sql(
      "q198_bottomk_sample",
      """WITH h AS (SELECT source, doc_id,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
        |  FROM documents),
        |r AS (SELECT source, doc_id, hv,
        |    row_number() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rn
        |  FROM h)
        |SELECT source, doc_id, hv FROM r WHERE rn <= 5
        |ORDER BY source, hv, doc_id""".stripMargin) { (s, dir) =>
      graft.plans.GraftFunctions.register(s)
      val h = Tables(s, dir).documents.select(col("source"), col("doc_id"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long").as("hv"))
        // composite sort key: hash in the high bits, doc_id below ties it
        .withColumn("__k", col("hv") * lit(1L << 21) + col("doc_id"))
      graft.plans.GraftFunctions
        .topKPerGroup(h, Seq("source"), "__k", 5, descending = false)
        .select(col("source"), col("doc_id"), col("hv"))
        .orderBy("source", "hv", "doc_id")
    },

    // DAU / WAU stickiness: daily active users over trailing-7-day
    // actives. The window runs over the DAY-GRAIN per-day user sets
    // (|days| rows after one distinct aggregate — never a window over
    // raw events), flattening 7 sets per row; the oracle counts each
    // trailing range directly. Ratio in exact ppm.
    QueryDef.sql(
      "q199_stickiness",
      """WITH du AS (SELECT DISTINCT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    user_id FROM events),
        |d AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY 1),
        |w AS (SELECT a.day, COUNT(DISTINCT b.user_id) AS wau
        |      FROM d a JOIN du b ON b.day <= a.day
        |        AND CAST(b.day AS DATE) >= CAST(a.day AS DATE) - INTERVAL 6 DAY
        |      GROUP BY 1)
        |SELECT d.day, CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
        |  CAST(dau * 1000000 // wau AS BIGINT) AS stickiness_ppm
        |FROM d JOIN w USING (day) ORDER BY day""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val du = Tables(s, dir).events
        .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("user_id"))
        .distinct()
      val ds = du.groupBy("day")
        .agg(collect_set(col("user_id")).as("us"), count(lit(1)).as("dau"))
      val f = Window.orderBy("day").rowsBetween(-6, 0)
      ds.select(col("day"), col("dau"),
          size(array_distinct(flatten(collect_list(col("us")).over(f)))).cast("long")
            .as("wau"))
        .select(col("day"), col("dau"), col("wau"),
          expr("dau * 1000000L div wau").as("stickiness_ppm"))
        .orderBy("day")
    },

    // Greedy budget allocation: fund orders in (date, key) priority
    // order until a 10%-of-total budget is exhausted — the prefix-sum-
    // and-cut shape of every quota/packing job. The cumulative spend is
    // the DISTRIBUTED prefix sum (range repartition + offsets), the
    // budget a 1-row broadcast; both sides exact cents.
    QueryDef.sql(
      "q200_budget_alloc",
      """WITH o AS (SELECT o_orderkey, o_orderdate,
        |    CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |b AS (SELECT CAST(SUM(cents) // 10 AS BIGINT) AS budget FROM o),
        |c AS (SELECT o_orderkey, cents,
        |    SUM(cents) OVER (ORDER BY o_orderdate, o_orderkey
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM o)
        |SELECT COUNT(*) AS n_funded, CAST(SUM(cents) AS BIGINT) AS spent_cents,
        |  CAST(MIN(budget) AS BIGINT) AS budget_cents,
        |  CAST(MAX(o_orderkey) AS BIGINT) AS last_orderkey
        |FROM c CROSS JOIN b WHERE cum <= budget""".stripMargin) { (s, dir) =>
      val o = Tables(s, dir).orders
        .select(col("o_orderkey"), col("o_orderdate"), cents(col("o_totalprice")).as("cents"))
      val b = o.agg(expr("CAST(SUM(cents) div 10 AS BIGINT)").as("budget"))
      val c = Ranks.withRunningTotal(o, Seq("o_orderdate", "o_orderkey"), col("cents"), "cum")
      c.crossJoin(broadcast(b))
        .where(col("cum") <= col("budget"))
        .agg(count(lit(1)).as("n_funded"), sum("cents").as("spent_cents"),
          min("budget").as("budget_cents"), max("o_orderkey").as("last_orderkey"))
    },

    // Degree distribution of the co-order part graph — the first graph
    // profiling pass before any mining job: symmetrized degree per node
    // from the support-screened edge list, bucketed by 5. The edge
    // subtree is built once; both endpoint projections reuse it
    // (ReusedExchange).
    QueryDef.sql(
      "q201_degree_hist",
      """WITH p AS (SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |deg AS (SELECT n, COUNT(*) AS d FROM (
        |    SELECT u AS n FROM p UNION ALL SELECT v FROM p) GROUP BY 1)
        |SELECT CAST(d // 5 AS BIGINT) AS deg_bucket, COUNT(*) AS n_nodes,
        |  CAST(MIN(d) AS BIGINT) AS min_deg, CAST(MAX(d) AS BIGINT) AS max_deg
        |FROM deg GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val li = Tables(s, dir).lineitem.select("l_orderkey", "l_partkey")
      val a = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("u"))
      val b = li.select(col("l_orderkey").as("ok2"), col("l_partkey").as("v"))
      val p = a.join(b, col("ok") === col("ok2") && col("u") < col("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("w"))
        .where(col("w") >= 2)
      val deg = p.select(col("u").as("n")).unionAll(p.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      deg.groupBy(expr("d div 5").cast("long").as("deg_bucket"))
        .agg(count(lit(1)).as("n_nodes"), min("d").as("min_deg"), max("d").as("max_deg"))
        .orderBy("deg_bucket")
    },

    // Autocorrelation function (lags 1-5) of the global daily revenue
    // series, EXACT: with n days and S = Σx, the centered products
    // clear to (n·x_t − S)(n·x_{t+l} − S) — DECIMAL(38,0)/HUGEINT sums —
    // and |r| ≤ 1 (Cauchy-Schwarz) makes the signed ppm division safe
    // as (num·10⁶ + 2·10⁶·den) div den − 2·10⁶: the shifted numerator
    // is never negative, so truncating div ≡ flooring // exactly. The
    // series is the 30-row daily aggregate; the five lags are five LEAD
    // columns over one tiny window.
    QueryDef.sql(
      "q202_acf",
      """WITH d AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS x
        |  FROM events GROUP BY 1),
        |t AS (SELECT COUNT(*) AS n, SUM(x) AS sx FROM d),
        |l AS (SELECT day, x,
        |    lead(x, 1) OVER w AS x1, lead(x, 2) OVER w AS x2, lead(x, 3) OVER w AS x3,
        |    lead(x, 4) OVER w AS x4, lead(x, 5) OVER w AS x5
        |  FROM d WINDOW w AS (ORDER BY day)),
        |c AS (SELECT CAST(n AS BIGINT) AS n,
        |    SUM((CAST(n AS HUGEINT) * x - sx) * (CAST(n AS HUGEINT) * x - sx)) AS den,
        |    SUM(CASE WHEN x1 IS NULL THEN 0 ELSE (CAST(n AS HUGEINT)*x - sx) * (CAST(n AS HUGEINT)*x1 - sx) END) AS n1,
        |    SUM(CASE WHEN x2 IS NULL THEN 0 ELSE (CAST(n AS HUGEINT)*x - sx) * (CAST(n AS HUGEINT)*x2 - sx) END) AS n2,
        |    SUM(CASE WHEN x3 IS NULL THEN 0 ELSE (CAST(n AS HUGEINT)*x - sx) * (CAST(n AS HUGEINT)*x3 - sx) END) AS n3,
        |    SUM(CASE WHEN x4 IS NULL THEN 0 ELSE (CAST(n AS HUGEINT)*x - sx) * (CAST(n AS HUGEINT)*x4 - sx) END) AS n4,
        |    SUM(CASE WHEN x5 IS NULL THEN 0 ELSE (CAST(n AS HUGEINT)*x - sx) * (CAST(n AS HUGEINT)*x5 - sx) END) AS n5
        |  FROM l CROSS JOIN t GROUP BY n),
        |u AS (SELECT lag, num, den FROM (
        |    SELECT 1 AS lag, n1 AS num, den FROM c
        |    UNION ALL SELECT 2, n2, den FROM c
        |    UNION ALL SELECT 3, n3, den FROM c
        |    UNION ALL SELECT 4, n4, den FROM c
        |    UNION ALL SELECT 5, n5, den FROM c))
        |SELECT CAST(lag AS BIGINT) AS lag,
        |  CAST((num * 1000000 + 2000000 * den) // den - 2000000 AS BIGINT) AS acf_ppm
        |FROM u ORDER BY lag""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val dec = "decimal(38,0)"
      val d = Tables(s, dir).events
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(sum(floor(col("value") * 100).cast("long")).as("x"))
      val t = d.agg(count(lit(1)).as("n"), sum("x").as("sx"))
      val w = Window.orderBy("day")
      val l = d.select(
        (Seq(col("day"), col("x")) ++
          (1 to 5).map(i => lead(col("x"), i).over(w).as(s"x$i"))): _*)
      val cd = l.crossJoin(broadcast(t))
      def ctr(c: Column) = col("n").cast(dec) * c - col("sx")
      val aggs = sum(ctr(col("x")) * ctr(col("x"))).as("den") +:
        (1 to 5).map(i => sum(when(col(s"x$i").isNull, lit(0).cast(dec))
          .otherwise(ctr(col("x")) * ctr(col(s"x$i")))).as(s"n$i"))
      val c = cd.groupBy(col("n").cast("long").as("n"))
        .agg(aggs.head, aggs.tail: _*)
      val u = (1 to 5).map(i =>
        c.select(lit(i.toLong).as("lag"), col(s"n$i").as("num"), col("den")))
        .reduce(_ unionAll _)
      u.select(col("lag"),
          expr("CAST((num * 1000000 + 2000000 * den) div den - 2000000 AS BIGINT)")
            .as("acf_ppm"))
        .orderBy("lag")
    },

    // CUSUM control chart (upward-drift alarm) per event type — the
    // NON-LINEAR recurrence (S_t = max(0, S_{t-1} + x_t − k)) evaluated
    // as an IN-ROW fold: the bounded daily series folds with a HOF
    // (aggregate / list_reduce, zero-seeded via a prepended 0), the
    // per-prefix fold giving the running max alarm statistic. k is the
    // per-type mean daily cents (floored). The fold is O(days²) on a
    // ≤31-element array — constant work per group at any event volume.
    // (For UNBOUNDED series the same recurrence has a closed window
    // form, S_t = P_t − min(0, min_{j≤t} P_j) — that distributed
    // formulation is q439_cusum_prefix.)
    QueryDef.sql(
      "q203_cusum",
      """WITH d AS (SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS x
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT event_type, list(x ORDER BY day) AS xs,
        |    CAST(SUM(x) // COUNT(*) AS BIGINT) AS k FROM d GROUP BY 1),
        |f AS (SELECT event_type, k,
        |    CAST(len(xs) AS BIGINT) AS n_days,
        |    list_transform(range(1, len(xs) + 1),
        |      i -> list_reduce([CAST(0 AS BIGINT)] || xs[1:i],
        |             (a, b) -> greatest(CAST(0 AS BIGINT), a + b - k))) AS ss
        |  FROM g)
        |SELECT event_type, n_days, k AS k_cents,
        |  CAST(ss[CAST(n_days AS INTEGER)] AS BIGINT) AS cusum_final,
        |  CAST(list_max(ss) AS BIGINT) AS cusum_max
        |FROM f ORDER BY event_type""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).events
        .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(sum(floor(col("value") * 100).cast("long")).as("x"))
      val g = d.groupBy("event_type")
        .agg(expr("transform(sort_array(collect_list(struct(day, x))), s -> s.x)").as("xs"),
          expr("CAST(SUM(x) div COUNT(*) AS BIGINT)").as("k"))
      g.select(col("event_type"), size(col("xs")).cast("long").as("n_days"),
          col("k").as("k_cents"),
          expr("transform(sequence(1, size(xs)), i -> " +
            "aggregate(slice(xs, 1, i), 0L, (a, b) -> greatest(0L, a + b - k)))").as("ss"))
        .select(col("event_type"), col("n_days"), col("k_cents"),
          expr("element_at(ss, CAST(n_days AS INT))").as("cusum_final"),
          array_max(col("ss")).as("cusum_max"))
        .orderBy("event_type")
    },

    // LSH dedup RECALL audit (q121's twin for MinHash): ground truth =
    // all pairs with exact shingle-Jaccard ≥ ½. THIS corpus defeats both
    // the inverted-index self-join (Σ df² = 600M at sf0.1 — 228 s) and
    // q208's prefix filter (the 13k-shingle universe is so hot that
    // "rarest" prefixes still cover 9.4M of the 13.4M possible pairs):
    // when every shingle is common, candidate generation cannot prune.
    // The honest exact path is a bitmap block product — each doc's
    // shingle set densely re-encoded as a ~204-word bitmap (one window
    // over the 13k-row dictionary), the 9 MB bitmap table broadcast, and
    // |∩| computed as zip_with popcounts inside codegen; no per-pair
    // array shuffle at all. At 100 TB the same verify runs per LSH block
    // or on the audit sample, never corpus×corpus. The oracle spells the
    // naive inverted-index join as the semantic spec. Candidates = the
    // production 8-hash/4-band LSH pairs; the integer test 3·|∩| ≥ n1+n2
    // is J ≥ ½ with the union cleared. One row out: how much the banding
    // misses at this threshold.
    QueryDef.sql(
      "q204_lsh_audit",
      s"""WITH ${TextQueries.sigSql},
        |${TextQueries.bandsSql},
        |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
        |shd AS (SELECT DISTINCT doc_id, sh FROM sh),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY 1),
        |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS ni
        |  FROM shd a JOIN shd b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |truth AS (SELECT d1, d2 FROM inter
        |  JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
        |  WHERE 3 * ni >= s1.n + s2.n)
        |SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
        |  (SELECT COUNT(*) FROM truth JOIN cand USING (d1, d2)) AS n_hit,
        |  CAST((SELECT COUNT(*) FROM truth JOIN cand USING (d1, d2)) * 1000000
        |    // (SELECT COUNT(*) FROM truth) AS BIGINT) AS recall_ppm""".stripMargin) { (s, dir) =>
      import graft.functions.TextFunctions._
      import graft.operators.Dedup
      val docs = TextQueries.nearDupDocs(Tables(s, dir).documents)
      val sig = Dedup.minhashSignatures(docs, "doc_id", "text")
      val cand = Dedup.minhashCandidates(sig)
      // shd feeds both the dictionary and the per-doc id sets — cache the
      // one shingle explode instead of recomputing the regex+explode tree
      // three times (≈10 MB at sf0.1)
      // shingle over a pre-projected normalized-text ATTRIBUTE — normText
      // inside the transform lambda re-evaluates per shingle position on
      // non-CSE paths (the cache build is one), quadratic in doc length
      val shd = docs.select(col("doc_id"), normText(col("text")).as("__nt"))
        .select(col("doc_id"),
          explode(array_distinct(shingles(col("__nt"), 8))).as("sh")).cache()
      // distributed dictionary-ID assignment (Ranks): the shingle universe
      // scales with the corpus, so the id can never come from a
      // single-task window; shingles are distinct ⇒ the rank is exact
      val dict = graft.operators.Ranks
        .withGlobalRank(shd.select("sh").distinct(), Seq("sh"), "id")
        .withColumn("id", (col("id") - 1).cast("int"))
      val nw = dict.agg(expr("CAST(max(id) div 64 + 1 AS INT)").as("nw"))
      val bm = shd.join(dict, "sh")
        .groupBy("doc_id").agg(collect_set(col("id")).as("ids"))
        .crossJoin(broadcast(nw))
        .select(col("doc_id"), size(col("ids")).as("n"),
          graft.plans.GraftFunctions.bitmapBuild(col("ids"), col("nw")).as("bm"))
      val truth = bm.select(col("doc_id").as("d1"), col("n").as("n1"), col("bm").as("b1"))
        .crossJoin(broadcast(bm.select(col("doc_id").as("d2"), col("n").as("n2"),
          col("bm").as("b2"))))
        .where(col("d1") < col("d2"))
        .where(graft.plans.GraftFunctions.bitmapAndCount(col("b1"), col("b2")) * 3 >=
          col("n1") + col("n2"))
        .select("d1", "d2")
      val hit = truth.join(cand, Seq("d1", "d2"))
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(col("n_truth"), col("n_hit"),
          expr("n_hit * 1000000L div n_truth").as("recall_ppm"))
    },

    // 2-D density grid (hour-of-day × value band) — the heatmap/anomaly
    // profiling scan: one map-side-combined aggregate over both bucket
    // axes, emitted sparse (only occupied cells). Share per cell in
    // exact ppm of the grand total (broadcast 1-row).
    QueryDef.sql(
      "q205_density_grid",
      """WITH g AS (SELECT CAST(hour(ts) AS BIGINT) AS h,
        |    CAST(FLOOR(value * 100) AS BIGINT) // 1000 AS vband, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT SUM(n) AS tn FROM g)
        |SELECT h, CAST(vband AS BIGINT) AS vband, CAST(n AS BIGINT) AS n,
        |  CAST(n * 1000000 // tn AS BIGINT) AS share_ppm
        |FROM g CROSS JOIN t ORDER BY h, vband""".stripMargin) { (s, dir) =>
      val g = Tables(s, dir).events
        .groupBy(hour(col("ts")).cast("long").as("h"),
          expr("CAST(FLOOR(value * 100) AS BIGINT) div 1000").as("vband"))
        .agg(count(lit(1)).as("n"))
      val t = g.agg(sum("n").as("tn"))
      g.crossJoin(broadcast(t))
        .select(col("h"), col("vband"), col("n"),
          expr("n * 1000000L div tn").as("share_ppm"))
        .orderBy("h", "vband")
    },

    // Pareto coverage: how many top customers cover ≥80% of revenue —
    // rank customers by spend DESCENDING (the running total's ascending
    // key is the NEGATED cents, custkey-tied), distributed prefix sum,
    // then count the prefix strictly below the 80% line (+1 for the
    // crossing customer). 5·cum ≥ 4·total keeps the threshold integral.
    QueryDef.sql(
      "q206_pareto",
      """WITH m AS (SELECT o_custkey,
        |    SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |t AS (SELECT COUNT(*) AS n_cust, SUM(cents) AS total FROM m),
        |c AS (SELECT cents,
        |    SUM(cents) OVER (ORDER BY cents DESC, o_custkey
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM m)
        |SELECT CAST(n_cust AS BIGINT) AS n_cust,
        |  CAST(SUM(CASE WHEN 5 * cum < 4 * total THEN 1 ELSE 0 END) + 1 AS BIGINT)
        |    AS n_top80,
        |  CAST((SUM(CASE WHEN 5 * cum < 4 * total THEN 1 ELSE 0 END) + 1) * 1000000
        |    // n_cust AS BIGINT) AS top80_frac_ppm
        |FROM c CROSS JOIN t GROUP BY n_cust""".stripMargin) { (s, dir) =>
      val m = Tables(s, dir).orders
        .groupBy("o_custkey")
        .agg(sum(cents(col("o_totalprice"))).as("cents"))
        .withColumn("neg", -col("cents"))
      val t = m.agg(count(lit(1)).as("n_cust"), sum("cents").as("total"))
      val c = Ranks.withRunningTotal(m, Seq("neg", "o_custkey"), col("cents"), "cum")
      c.crossJoin(broadcast(t))
        .groupBy("n_cust")
        .agg((sum(when(col("cum") * 5 < col("total") * 4, 1L).otherwise(0L)) + 1)
          .as("n_top80"))
        .select(col("n_cust"), col("n_top80"),
          expr("n_top80 * 1000000L div n_cust").as("top80_frac_ppm"))
    },

    // SCD2 point-in-time join: each purchase enriched with the user's
    // state AT THE PURCHASE INSTANT — the dimension-snapshot correctness
    // op every lakehouse pipeline needs. The interval table derives from
    // the event stream (state = last non-purchase event type, valid
    // [event, next-event)); the PIT lookup is a user-keyed equi-join
    // with the interval predicate applied post-join — per-user interval
    // counts are bounded, so cost follows matches, never |facts|×|dim|.
    QueryDef.sql(
      "q207_pit_join",
      """WITH st AS (SELECT user_id, event_type AS state, ts AS valid_from,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
        |  FROM events WHERE event_type <> 'purchase'),
        |f AS (SELECT user_id, ts, event_id,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase')
        |SELECT st.state, COUNT(*) AS n_purchases,
        |  CAST(SUM(f.cents) AS BIGINT) AS cents
        |FROM f JOIN st ON f.user_id = st.user_id
        |  AND f.ts >= st.valid_from
        |  AND (st.valid_to IS NULL OR f.ts < st.valid_to)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables(s, dir).events
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val st = ev.where(col("event_type") =!= "purchase")
        .select(col("user_id"), col("event_type").as("state"),
          col("ts").as("valid_from"), lead(col("ts"), 1).over(w).as("valid_to"))
      val f = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("f_user"), col("ts").as("f_ts"),
          floor(col("value") * 100).cast("long").as("cents"))
      f.join(st, col("f_user") === col("user_id")
          && col("f_ts") >= col("valid_from")
          && (col("valid_to").isNull || col("f_ts") < col("valid_to")))
        .groupBy("state")
        .agg(count(lit(1)).as("n_purchases"), sum("cents").as("cents"))
        .orderBy("state")
    },

    // EXACT set-similarity join via AllPairs/PPJoin-style PREFIX
    // FILTERING (word-trigram sets, J ≥ ½): two sets with Jaccard ≥ t
    // MUST collide on one of each's (n − ⌈t·n⌉ + 1) globally-RAREST
    // elements, so the candidate join touches only prefix tokens —
    // rare by construction — and verification is an in-row
    // array_intersect on the candidates. Lossless: the oracle computes
    // the same pairs the naive way (full inverted-index join), and the
    // hash-match proves the pruning dropped nothing. The third dedup
    // backend next to LSH (probabilistic, q26) and SimHash (q35) —
    // exact answers at near-LSH cost on sparse-similarity corpora.
    QueryDef.sql(
      "q208_prefix_filter_join",
      s"""WITH docs AS (${TextQueries.nearDupSql}),
        |ws AS (SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS w
        |  FROM docs),
        |g AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
        |  FROM ws, UNNEST(range(1, len(w) - 1)) AS t(i)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY 1),
        |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS ni
        |  FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT d1, d2, CAST(ni AS BIGINT) AS ni,
        |  CAST(s1.n AS BIGINT) AS n1, CAST(s2.n AS BIGINT) AS n2
        |FROM inter JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
        |WHERE 3 * ni >= s1.n + s2.n
        |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      import graft.functions.TextFunctions._
      val docs = TextQueries.nearDupDocs(Tables(s, dir).documents)
      val g = docs
        .select(col("doc_id"), tokens(normText(col("text"))).as("w"))
        .select(col("doc_id"), explode(expr(
          "array_distinct(transform(sequence(1, greatest(size(w) - 2, 0))," +
            " i -> concat_ws(' ', slice(w, i, 3))))")).as("g"))
      val sizes = g.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val dfc = g.groupBy("g").agg(count(lit(1)).as("df"))
      // prefix = the floor(n/2)+1 rarest grams of each doc (t = 1/2):
      // any J >= 1/2 partner must share one of them
      val ranked = g.join(dfc, "g").join(sizes, "doc_id")
        .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("df", "g")))
        .where(expr("rn <= n div 2 + 1"))
        .select("doc_id", "g")
      val cand = ranked.select(col("doc_id").as("d1"), col("g"))
        .join(ranked.select(col("doc_id").as("d2"), col("g").as("g2")),
          col("g") === col("g2") && col("d1") < col("d2"))
        .select("d1", "d2").distinct()
      // verify candidates in-row: the gram sets ride as sorted arrays
      val sets = g.groupBy("doc_id").agg(sort_array(collect_set(col("g"))).as("gs"))
      cand
        .join(sets.select(col("doc_id").as("d1"), col("gs").as("gs1")), "d1")
        .join(sets.select(col("doc_id").as("d2"), col("gs").as("gs2")), "d2")
        .select(col("d1"), col("d2"),
          size(array_intersect(col("gs1"), col("gs2"))).cast("long").as("ni"),
          size(col("gs1")).cast("long").as("n1"), size(col("gs2")).cast("long").as("n2"))
        .where(col("ni") * 3 >= col("n1") + col("n2"))
        .orderBy("d1", "d2")
    },

    // Dedup canonicalization — the step that turns clusters into a DROP
    // LIST: per near-dup component (LSH candidates → connected
    // components, q68's machinery) keep the longest normalized text
    // (doc_id-tied), emit every other member mapped to its canonical.
    // The canonical pick is a one-pass max_by on the (length, −doc_id)
    // struct; the oracle re-derives components with the recursive
    // closure and picks via window rank. Output = exactly the rows a
    // dedup job deletes.
    QueryDef.sql(
      "q209_canonicalize",
      s"""WITH RECURSIVE ${TextQueries.sigSql},
        |${TextQueries.bandsSql},
        |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
        |${TextQueries.componentsSql("cand")},
        |lens AS (SELECT doc_id, len(nt) AS l FROM nrm),
        |rk AS (SELECT c.doc_id, c.component,
        |    row_number() OVER (PARTITION BY c.component ORDER BY l DESC, c.doc_id) AS rn
        |  FROM comp c JOIN lens USING (doc_id)),
        |canon AS (SELECT component, doc_id AS canonical_id FROM rk WHERE rn = 1)
        |SELECT r.doc_id, cn.canonical_id, r.component
        |FROM rk r JOIN canon cn USING (component) WHERE r.rn > 1
        |ORDER BY r.doc_id""".stripMargin) { (s, dir) =>
      import graft.functions.TextFunctions._
      import graft.operators.Dedup
      val docs = TextQueries.nearDupDocs(Tables(s, dir).documents)
      val cand = Dedup.minhashCandidates(Dedup.minhashSignatures(docs, "doc_id", "text"))
      val comp = Dedup.connectedComponents(cand)
      val lens = docs.select(col("doc_id"), length(normText(col("text"))).cast("long").as("l"))
      val withLen = comp.join(lens, "doc_id")
      val canon = withLen.groupBy("component")
        .agg(expr("max_by(doc_id, struct(l, -doc_id))").as("canonical_id"))
      withLen.join(broadcast(canon), "component")
        .where(col("doc_id") =!= col("canonical_id"))
        .select(col("doc_id"), col("canonical_id"), col("component"))
        .orderBy("doc_id")
    },

    // Integer-exact math-function surface (abs/sign/ceil/floor/mod/
    // greatest/least/power-of-two) — one codegen'd projection over a
    // derived signed column; every function keeps BIGINT semantics, so
    // the engines agree bit-for-bit with no rounding-mode questions.
    QueryDef.sql(
      "q210_math_kitchen",
      """SELECT p_partkey,
        |  CAST(abs(p_partkey - 1000) AS BIGINT) AS a,
        |  CAST(sign(p_partkey - 1000) AS BIGINT) AS sg,
        |  CAST(ceil(CAST(p_partkey AS DOUBLE) / 7) AS BIGINT) AS cl,
        |  CAST(floor(CAST(p_partkey AS DOUBLE) / 7) AS BIGINT) AS fl,
        |  CAST(p_partkey % 97 AS BIGINT) AS md,
        |  CAST(greatest(p_partkey % 13, p_partkey % 7, 3) AS BIGINT) AS gr,
        |  CAST(least(p_partkey % 13, p_partkey % 7, 3) AS BIGINT) AS ls,
        |  CAST(1 AS BIGINT) << CAST(p_partkey % 20 AS INTEGER) AS p2
        |FROM part WHERE p_partkey % 37 = 0 ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      Tables(s, dir).part
        .where(col("p_partkey") % 37 === 0)
        .select(col("p_partkey"),
          abs(col("p_partkey") - 1000).as("a"),
          signum((col("p_partkey") - 1000).cast("double")).cast("long").as("sg"),
          ceil(col("p_partkey").cast("double") / 7).cast("long").as("cl"),
          floor(col("p_partkey").cast("double") / 7).cast("long").as("fl"),
          (col("p_partkey") % 97).as("md"),
          greatest(col("p_partkey") % 13, col("p_partkey") % 7, lit(3L)).as("gr"),
          least(col("p_partkey") % 13, col("p_partkey") % 7, lit(3L)).as("ls"),
          expr("shiftleft(1L, CAST(p_partkey % 20 AS INT))").as("p2"))
        .orderBy("p_partkey")
    },

    // End-to-end corpus cleaning manifest — the whole prep pipeline as
    // ONE verifiable query: quality screen (≥20 tokens) → exact dedup
    // (md5 keeper) → eval-set decontamination (shared 5-gram with the
    // doc_id%97 eval split, q157's hash-join recipe) → per-source
    // manifest with FIRST-FAILING-STAGE drop attribution. Every stage
    // is the production shape (map-only screens, one dedup aggregate,
    // one gram equi-join); composing them end-to-end is what a real
    // training-data job ships, and the oracle checks the composition,
    // not just the parts.
    QueryDef.sql(
      "q211_clean_manifest",
      """WITH nrm AS (SELECT doc_id, source,
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS nt FROM documents),
        |q AS (SELECT doc_id, source, nt,
        |    len(string_split(nt, ' ')) AS n_tokens,
        |    doc_id % 97 = 0 AS is_eval FROM nrm),
        |corp AS (SELECT * FROM q WHERE NOT is_eval),
        |keepers AS (SELECT md5(nt) AS fp, MIN(doc_id) AS keep_id FROM corp
        |            WHERE n_tokens >= 20 GROUP BY fp),
        |ev_grams AS (SELECT DISTINCT array_to_string(ws[i:i+4], ' ') AS gram
        |  FROM (SELECT string_split(nt, ' ') AS ws FROM q WHERE is_eval),
        |       UNNEST(range(1, len(ws) - 3)) AS t(i)),
        |contam AS (SELECT DISTINCT doc_id FROM (
        |    SELECT doc_id, array_to_string(ws[i:i+4], ' ') AS gram
        |    FROM (SELECT doc_id, string_split(nt, ' ') AS ws FROM corp),
        |         UNNEST(range(1, len(ws) - 3)) AS t(i))
        |  JOIN ev_grams USING (gram)),
        |lab AS (SELECT c.doc_id, c.source, c.n_tokens,
        |    CASE WHEN c.n_tokens < 20 THEN 'quality'
        |         WHEN k.keep_id IS NULL THEN 'dup'
        |         WHEN ct.doc_id IS NOT NULL THEN 'contam'
        |         ELSE 'kept' END AS st
        |  FROM corp c
        |  LEFT JOIN keepers k ON md5(c.nt) = k.fp AND c.doc_id = k.keep_id
        |  LEFT JOIN contam ct ON c.doc_id = ct.doc_id)
        |SELECT source,
        |  CAST(SUM(CASE WHEN st = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN st = 'quality' THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
        |  CAST(SUM(CASE WHEN st = 'dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  CAST(SUM(CASE WHEN st = 'contam' THEN 1 ELSE 0 END) AS BIGINT) AS n_contam,
        |  CAST(SUM(CASE WHEN st = 'kept' THEN n_tokens ELSE 0 END) AS BIGINT)
        |    AS kept_tokens
        |FROM lab GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      import graft.functions.TextFunctions._
      val q = Tables(s, dir).documents
        .select(col("doc_id"), col("source"), normText(col("text")).as("nt"))
        .withColumn("n_tokens", size(split(col("nt"), " ")).cast("long"))
        .withColumn("is_eval", col("doc_id") % 97 === 0)
      val corp = q.where(!col("is_eval"))
      val keepers = corp.where(col("n_tokens") >= 20)
        .groupBy(md5(col("nt")).as("fp")).agg(min("doc_id").as("keep_id"))
      def grams(df: org.apache.spark.sql.DataFrame) = df
        .select(col("doc_id"), split(col("nt"), " ").as("ws"))
        .where(size(col("ws")) >= 5)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(ws) - 4), i -> concat_ws(' ', slice(ws, i, 5)))"))
          .as("gram"))
      val evGrams = grams(q.where(col("is_eval"))).select("gram").distinct()
      val contam = grams(corp).join(evGrams, "gram").select("doc_id").distinct()
        .withColumn("is_contam", lit(true))
      val lab = corp
        .join(keepers,
          md5(col("nt")) === col("fp") && col("doc_id") === col("keep_id"), "left")
        .join(contam, Seq("doc_id"), "left")
        .select(col("source"), col("n_tokens"),
          when(col("n_tokens") < 20, "quality")
            .when(col("keep_id").isNull, "dup")
            .when(col("is_contam"), "contam")
            .otherwise("kept").as("st"))
      lab.groupBy("source")
        .agg(sum(when(col("st") === "kept", 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("st") === "quality", 1L).otherwise(0L)).as("n_quality"),
          sum(when(col("st") === "dup", 1L).otherwise(0L)).as("n_dup"),
          sum(when(col("st") === "contam", 1L).otherwise(0L)).as("n_contam"),
          sum(when(col("st") === "kept", col("n_tokens")).otherwise(0L)).as("kept_tokens"))
        .orderBy("source")
    },

    // Canonical-render kitchen closing SURVEY §2.8's last vocabulary
    // rows: RPAD zero-alignment (the reference's float column padding,
    // processor_common_oracle.go:187-190) and interval arithmetic
    // (NUMTODSINTERVAL seconds → make_interval, message/tidb/
    // event.go:179-186), rendered to fixed text so the comparison is
    // exact. Map-only, codegen'd.
    QueryDef.sql(
      "q212_render_kitchen",
      """SELECT event_id,
        |  rpad(CAST(CAST(FLOOR(value * 100) AS BIGINT) AS VARCHAR), 12, '0') AS padded,
        |  strftime(ts + to_seconds(CAST(FLOOR(value) AS INTEGER)),
        |           '%Y-%m-%d %H:%M:%S') AS ts_plus,
        |  strftime(ts - INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S') AS ts_minus_day
        |FROM events WHERE event_id % 101 = 0 ORDER BY event_id""".stripMargin) { (s, dir) =>
      Tables(s, dir).events
        .where(col("event_id") % 101 === 0)
        .select(col("event_id"),
          rpad(floor(col("value") * 100).cast("long").cast("string"), 12, "0").as("padded"),
          date_format(expr("ts + make_interval(0, 0, 0, 0, 0, 0, CAST(FLOOR(value) AS INT))"),
            "yyyy-MM-dd HH:mm:ss").as("ts_plus"),
          date_format(expr("ts - make_interval(0, 0, 0, 1, 0, 0, 0)"),
            "yyyy-MM-dd HH:mm:ss").as("ts_minus_day"))
        .orderBy("event_id")
    },

    // Sliding-window actives via MERGEABLE HLL sketches — q199's
    // billion-user path: per-day sketches union over the trailing-7-day
    // frame (hll_union_agg as a window aggregate), so the WAU never
    // materializes user sets; at 1e9 users/day the frame carries 7
    // kilobyte-sized sketches instead of 7 user-ID sets. Gated against
    // the exact trailing count (±5%, q163's convention) — the oracle
    // recomputes the exact side and expects every gate TRUE.
    QueryDef.sql(
      "q213_sliding_hll",
      """WITH du AS (SELECT DISTINCT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    user_id FROM events),
        |d AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY 1),
        |w AS (SELECT a.day, COUNT(DISTINCT b.user_id) AS wau_exact
        |      FROM d a JOIN du b ON b.day <= a.day
        |        AND CAST(b.day AS DATE) >= CAST(a.day AS DATE) - INTERVAL 6 DAY
        |      GROUP BY 1)
        |SELECT day, CAST(wau_exact AS BIGINT) AS wau_exact, TRUE AS hll_ok
        |FROM w ORDER BY day""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val du = Tables(s, dir).events
        .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("user_id"))
        .distinct()
      val ds = du.groupBy("day")
        .agg(expr("hll_sketch_agg(user_id)").as("sk"),
          collect_set(col("user_id")).as("us"))
      val f = Window.orderBy("day").rowsBetween(-6, 0)
      ds.select(col("day"),
          expr("hll_union_agg(sk)").over(f).as("usk"),
          size(array_distinct(flatten(collect_list(col("us")).over(f)))).cast("long")
            .as("wau_exact"))
        .select(col("day"), expr("hll_sketch_estimate(usk)").as("wau_hll"),
          col("wau_exact"))
        .select(col("day"), col("wau_exact"),
          (abs(col("wau_hll") - col("wau_exact"))
            <= greatest(lit(1L), col("wau_exact") * 5 / 100)).as("hll_ok"))
        .orderBy("day")
    },

    // Join-skew diagnostics — the pre-flight every big join wants: per
    // candidate key column, total rows, exact NDV, the heaviest key's
    // count and its row share (the salting decision number, q86). Three
    // key columns profiled in three map-side-combined aggregates over
    // one scan subtree; the heavy key via one-pass max_by.
    QueryDef.sql(
      "q214_skew_report",
      """WITH p AS (
        |  SELECT 'l_orderkey' AS key_col, l_orderkey AS k FROM lineitem
        |  UNION ALL SELECT 'l_partkey', l_partkey FROM lineitem
        |  UNION ALL SELECT 'l_suppkey', l_suppkey FROM lineitem),
        |c AS (SELECT key_col, k, COUNT(*) AS n FROM p GROUP BY 1, 2),
        |r AS (SELECT key_col, SUM(n) AS total, COUNT(*) AS ndv,
        |    MAX(n) AS max_n,
        |    first(k ORDER BY n DESC, k) AS heavy_k
        |  FROM c GROUP BY 1)
        |SELECT key_col, CAST(total AS BIGINT) AS total, CAST(ndv AS BIGINT) AS ndv,
        |  CAST(heavy_k AS BIGINT) AS heavy_key, CAST(max_n AS BIGINT) AS heavy_n,
        |  CAST(max_n * 1000000 // total AS BIGINT) AS heavy_share_ppm
        |FROM r ORDER BY key_col""".stripMargin) { (s, dir) =>
      val li = Tables(s, dir).lineitem
      val p = li.select(lit("l_orderkey").as("key_col"), col("l_orderkey").as("k"))
        .unionAll(li.select(lit("l_partkey").as("key_col"), col("l_partkey").as("k")))
        .unionAll(li.select(lit("l_suppkey").as("key_col"), col("l_suppkey").as("k")))
      val c = p.groupBy("key_col", "k").agg(count(lit(1)).as("n"))
      c.groupBy("key_col")
        .agg(sum("n").as("total"), count(lit(1)).as("ndv"),
          max("n").as("heavy_n"),
          expr("min_by(k, struct(-n, k))").as("heavy_key"))
        .select(col("key_col"), col("total"), col("ndv"), col("heavy_key"),
          col("heavy_n"),
          expr("heavy_n * 1000000L div total").as("heavy_share_ppm"))
        .orderBy("key_col")
    },

    // Fellegi-Sunter record linkage: a deterministic "dirty" copy of
    // every 3rd customer (lowercased name / +0.37 balance / shifted
    // nation on key-derived subsets), blocked on (segment, $500 balance
    // band) so candidate generation is an EQUI-join — the only shape that
    // scales: pair count follows Σ|block|², never |clean|×|dirty|; at
    // 100 TB the band narrows (or salts) to cap block size. Integer
    // log-odds weights per field agreement, summed to a score, bucketed
    // match / possible / non_match; n_true (same custkey) per bucket
    // surfaces the precision/recall trade plus the blocking misses
    // (perturbed balances that crossed a band boundary never pair).
    // Balance bands route through DOUBLE+FLOOR: cents are signed and
    // `div` truncates while `//` floors.
    QueryDef.sql(
      "q319_record_linkage",
      """WITH clean AS (SELECT c_custkey AS ck, c_name AS nm, c_nationkey AS nat,
        |    CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS bal, c_mktsegment AS seg
        |  FROM customer),
        |dirty AS (SELECT c_custkey AS ck,
        |    CASE WHEN c_custkey % 6 = 0 THEN lower(c_name) ELSE c_name END AS nm,
        |    CASE WHEN c_custkey % 15 = 0 THEN (c_nationkey + 1) % 25 ELSE c_nationkey END AS nat,
        |    CAST(FLOOR((CASE WHEN c_custkey % 9 = 0 THEN c_acctbal + 0.37
        |                     ELSE c_acctbal END) * 100) AS BIGINT) AS bal,
        |    c_mktsegment AS seg
        |  FROM customer WHERE c_custkey % 3 = 0),
        |cb AS (SELECT *, CAST(FLOOR(CAST(bal AS DOUBLE) / 50000.0) AS BIGINT) AS band FROM clean),
        |db AS (SELECT *, CAST(FLOOR(CAST(bal AS DOUBLE) / 50000.0) AS BIGINT) AS band FROM dirty),
        |pairs AS (SELECT cb.ck AS ck1, db.ck AS ck2,
        |    (CASE WHEN cb.nm = db.nm THEN 38 ELSE -12 END)
        |    + (CASE WHEN cb.nat = db.nat THEN 8 ELSE -6 END)
        |    + (CASE WHEN abs(cb.bal - db.bal) <= 50 THEN 11 ELSE -9 END) AS score
        |  FROM cb JOIN db ON cb.seg = db.seg AND cb.band = db.band),
        |d AS (SELECT CASE WHEN score >= 40 THEN 'match'
        |        WHEN score >= 0 THEN 'possible' ELSE 'non_match' END AS decision,
        |    score, CASE WHEN ck1 = ck2 THEN 1 ELSE 0 END AS is_true
        |  FROM pairs)
        |SELECT decision, COUNT(*) AS n_pairs,
        |  CAST(SUM(is_true) AS BIGINT) AS n_true,
        |  CAST(SUM(score) AS BIGINT) AS sum_score
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val cust = Tables(s, dir).customer
      def band(c: Column) = floor(c.cast("double") / lit(50000.0)).cast("long")
      val clean = cust.select(col("c_custkey").as("ck1"), col("c_name").as("nm1"),
        col("c_nationkey").as("nat1"), cents(col("c_acctbal")).as("bal1"),
        col("c_mktsegment").as("seg"))
        .withColumn("band", band(col("bal1")))
      val dirty = cust.where(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").as("ck2"),
          when(col("c_custkey") % 6 === 0, lower(col("c_name")))
            .otherwise(col("c_name")).as("nm2"),
          when(col("c_custkey") % 15 === 0, (col("c_nationkey") + 1) % 25)
            .otherwise(col("c_nationkey")).as("nat2"),
          cents(when(col("c_custkey") % 9 === 0, col("c_acctbal") + 0.37)
            .otherwise(col("c_acctbal"))).as("bal2"),
          col("c_mktsegment").as("seg"))
        .withColumn("band", band(col("bal2")))
      val pairs = clean.join(dirty, Seq("seg", "band"))
        .select(
          (when(col("nm1") === col("nm2"), 38).otherwise(-12)
            + when(col("nat1") === col("nat2"), 8).otherwise(-6)
            + when(abs(col("bal1") - col("bal2")) <= 50, 11).otherwise(-9)).as("score"),
          when(col("ck1") === col("ck2"), 1L).otherwise(0L).as("is_true"))
      pairs
        .select(when(col("score") >= 40, "match")
            .when(col("score") >= 0, "possible")
            .otherwise("non_match").as("decision"),
          col("score").cast("long").as("score"), col("is_true"))
        .groupBy("decision")
        .agg(count(lit(1)).as("n_pairs"), sum("is_true").as("n_true"),
          sum("score").as("sum_score"))
        .orderBy("decision")
    })
}
