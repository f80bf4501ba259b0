package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{QueryDef, Tables}
import graft.operators.{Graphs, Migrate, Ranks}

/** Round-3 capability batch: CUBE totals, higher-order array functions,
  * interval-overlap join (bucketized, never n²), as-of join with a
  * staleness tolerance, Benford digit profiling, calendar-spine
  * densification, weekly cohort retention, and span-granularity exact
  * dedup (the 8-word rolling-window flavor of training-data dedup).
  *
  * Scale discipline (local[32] now, 1000 executors later):
  * - the interval join expands each interval to its ≤5 covered days and
  *   equi-joins on the day — cost follows actual overlaps, never |A|×|B|;
  * - span dedup explodes ≤92 spans/doc and counts distinct docs per span
  *   in one hash aggregate;
  * - the date spine derives its bounds in-plan (no driver collect) and
  *   left-joins daily aggregates that AQE broadcasts;
  * - every floating aggregate uses the floor-scaled-integer convention so
  *   the DuckDB differential gate is exact.
  */
object AdvancedQueries {

  val all: Seq[QueryDef] = Seq(

    // CUBE over (status, priority): all four grouping combinations in one
    // pass (partial aggregation handles the expansion map-side). NULL
    // grouping slots render as 'ALL' so ordering cannot diverge on
    // engine-specific NULL sort order.
    QueryDef.sql(
      "q111_cube",
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin) { (s, dir) =>
      Tables(s, dir).orders
        .select(col("o_orderstatus"), col("o_orderpriority"),
          floor(col("o_totalprice") * 100).cast("long").as("c"))
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), sum("c").as("cents"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("cents"))
        .orderBy("status", "priority")
    },

    // Higher-order array functions: per-order sorted quantity vector, then
    // transform (map), filter, and aggregate (fold) entirely in-row — the
    // array never leaves the row, so the only shuffle is the initial
    // groupBy. DuckDB's list lambdas are the oracle twins.
    QueryDef.sql(
      "q112_hof_arrays",
      """WITH arr AS (
        |  SELECT l_orderkey,
        |    list(CAST(floor(l_quantity) AS BIGINT) ORDER BY CAST(floor(l_quantity) AS BIGINT)) AS q
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT l_orderkey,
        |  CAST(list_sum(list_transform(q, x -> x * 2)) AS BIGINT) AS dbl_sum,
        |  CAST(len(list_filter(q, x -> x >= 25)) AS BIGINT) AS n_big,
        |  CAST(list_aggregate(q, 'max') AS BIGINT) AS q_max
        |FROM arr ORDER BY l_orderkey""".stripMargin) { (s, dir) =>
      Tables(s, dir).lineitem
        .select(col("l_orderkey"), floor(col("l_quantity")).cast("long").as("qv"))
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list("qv")).as("q"))
        .select(col("l_orderkey"),
          expr("aggregate(transform(q, x -> x * 2), 0L, (a, x) -> a + x)").as("dbl_sum"),
          expr("CAST(size(filter(q, x -> x >= 25)) AS BIGINT)").as("n_big"),
          expr("array_max(q)").as("q_max"))
        .orderBy("l_orderkey")
    },

    // Interval-overlap join: orders become [start, start + k%5+1 days)
    // intervals; set A (k%7=0) against set B (k%11=0). Each interval
    // explodes to its covered days (bounded fanout ≤ 5) and pairs meet on
    // an equi-joined day column; a pair is counted exactly once, at the
    // first shared day (greatest of the two starts) — the standard
    // bucketized range join that scales with overlaps, not |A|×|B|. The
    // oracle is the plain theta join.
    QueryDef.sql(
      "q113_interval_join",
      """WITH iv AS (SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS s,
        |    CAST(o_orderdate AS DATE) + CAST(o_orderkey % 5 + 1 AS INTEGER) AS e
        |  FROM orders),
        |a AS (SELECT * FROM iv WHERE k % 7 = 0),
        |b AS (SELECT * FROM iv WHERE k % 11 = 0)
        |SELECT a.k AS a_key, count(*) AS n_overlap
        |FROM a JOIN b ON a.s < b.e AND b.s < a.e AND a.k <> b.k
        |GROUP BY a.k ORDER BY a.k""".stripMargin) { (s, dir) =>
      val iv = Tables(s, dir).orders.select(
        col("o_orderkey").as("k"),
        to_date(col("o_orderdate")).as("s"),
        date_add(to_date(col("o_orderdate")), (col("o_orderkey") % 5 + 1).cast("int")).as("e"))
      def days(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("day", explode(sequence(col("s"), date_sub(col("e"), 1))))
      val a = days(iv.where(col("k") % 7 === 0))
        .select(col("k").as("a_key"), col("s").as("a_s"), col("e").as("a_e"), col("day"))
      val b = days(iv.where(col("k") % 11 === 0))
        .select(col("k").as("b_key"), col("s").as("b_s"), col("day"))
      a.join(b, Seq("day"))
        .where(col("a_key") =!= col("b_key") &&
          col("day") === greatest(col("a_s"), col("b_s")))
        .groupBy("a_key").agg(count(lit(1)).as("n_overlap"))
        .orderBy("a_key")
    },

    // As-of join with tolerance: each click picks the latest view by the
    // same user at-or-before it, but only within 1 hour. One union +
    // per-user window carry (a single shuffle on user_id) instead of an
    // inequality join; the oracle IS the inequality join + argmax, which
    // is fine at oracle scale and independent of the impl strategy.
    QueryDef.sql(
      "q114_asof_tolerance",
      """WITH c AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'click'),
        |v AS (SELECT user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'view')
        |SELECT c.event_id, CAST(max(v.us) AS BIGINT) AS view_us
        |FROM c JOIN v ON c.user_id = v.user_id AND v.us <= c.us AND c.us - v.us <= 3600000000
        |GROUP BY c.event_id ORDER BY c.event_id""".stripMargin) { (s, dir) =>
      val ev = Tables(s, dir).events
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_type"))
      val tagged = ev.where(col("event_type").isin("click", "view"))
        .withColumn("is_click", (col("event_type") === "click").cast("int"))
      // views sort before a click at the same microsecond ⇒ v.us <= c.us
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("is_click"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn("view_us", max(when(col("is_click") === 0, col("us"))).over(w))
        .where(col("is_click") === 1 && col("view_us").isNotNull &&
          col("us") - col("view_us") <= 3600000000L)
        .select(col("event_id"), col("view_us"))
        .orderBy("event_id")
    },

    // Benford first-digit profile of order totals — the data-scan/assess
    // flavor of distribution profiling. One hash aggregate over 9 digit
    // groups; the permille share divides integers (count × 1000 over the
    // window total), so the result is exact on both engines.
    QueryDef.sql(
      "q115_benford",
      """WITH g AS (
        |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |    count(*) AS n
        |  FROM orders GROUP BY 1)
        |SELECT digit, n, CAST((1000 * n) // SUM(n) OVER () AS BIGINT) AS permille
        |FROM g ORDER BY digit""".stripMargin) { (s, dir) =>
      Tables(s, dir).orders
        .select(substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
          .cast("long").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
        .withColumn("permille", expr("CAST((1000 * n) div sum(n) OVER () AS BIGINT)"))
        .orderBy("digit")
    },

    // Calendar-spine densification (gap fill): every day in the orders
    // date range appears, zero-filled when no orders landed on it. The
    // spine bounds come from an in-plan min/max aggregate — no driver
    // collect — and the daily aggregate side is small enough that AQE
    // broadcasts the join at any SF.
    QueryDef.sql(
      "q116_date_spine",
      """WITH b AS (SELECT min(CAST(o_orderdate AS DATE)) AS lo, max(CAST(o_orderdate AS DATE)) AS hi FROM orders),
        |spine AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day FROM b),
        |daily AS (SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n,
        |    sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1)
        |SELECT s.day, coalesce(d.n, 0) AS n, CAST(coalesce(d.cents, 0) AS BIGINT) AS cents
        |FROM spine s LEFT JOIN daily d USING (day) ORDER BY s.day""".stripMargin) { (s, dir) =>
      val o = Tables(s, dir).orders
      val daily = o.groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
      val spine = o.agg(min(to_date(col("o_orderdate"))).as("lo"),
          max(to_date(col("o_orderdate"))).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      spine.join(daily, Seq("day"), "left")
        .select(col("day"), coalesce(col("n"), lit(0L)).as("n"),
          coalesce(col("cents"), lit(0L)).as("cents"))
        .orderBy("day")
    },

    // Weekly cohort retention: cohort = a user's first active ISO week;
    // for each (cohort, week offset) count the distinct users still
    // active. Two hash aggregates plus one join on user_id — the
    // product-analytics matrix at corpus scale.
    QueryDef.sql(
      "q117_retention",
      """WITH act AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
        |coh AS (SELECT user_id, min(wk) AS cw FROM act GROUP BY user_id)
        |SELECT c.cw AS cohort_week,
        |  CAST(date_diff('day', c.cw, a.wk) // 7 AS BIGINT) AS offset_weeks,
        |  count(DISTINCT a.user_id) AS users
        |FROM act a JOIN coh c ON a.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val act = Tables(s, dir).events
        .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("wk"))
        .distinct()
      val coh = act.groupBy("user_id").agg(min("wk").as("cw"))
      act.join(coh, Seq("user_id"))
        .groupBy(col("cw").as("cohort_week"),
          expr("CAST(datediff(wk, cw) div 7 AS BIGINT)").as("offset_weeks"))
        .agg(countDistinct("user_id").as("users"))
        .orderBy("cohort_week", "offset_weeks")
    },

    // Span-granularity exact dedup (Lee et al. flavor): every 8-word
    // rolling window of every document, top duplicated spans by distinct
    // document count. The spans stay in-row until one explode (≤ 92
    // spans/doc, bounded by document length), then a distinct + one hash
    // aggregate; top-20 is TakeOrdered, never a global sort.
    QueryDef.sql(
      "q118_span_dedup",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 8),
        |sp AS (SELECT DISTINCT doc_id, span FROM (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 7),
        |    i -> array_to_string(ws[i:i+7], ' '))) AS span FROM w)),
        |g AS (SELECT span, count(*) AS ndocs FROM sp GROUP BY span HAVING count(*) > 1)
        |SELECT span, ndocs FROM g ORDER BY ndocs DESC, span LIMIT 20""".stripMargin) { (s, dir) =>
      val w = Tables(s, dir).documents
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .where(size(col("ws")) >= 8)
      val sp = w.select(col("doc_id"),
          explode(expr("transform(sequence(1, size(ws) - 7), i -> array_join(slice(ws, i, 8), ' '))")).as("span"))
        .distinct()
      sp.groupBy("span").agg(count(lit(1)).as("ndocs"))
        .where(col("ndocs") > 1)
        .orderBy(col("ndocs").desc, col("span"))
        .limit(20)
    },

    // Skyline (Pareto frontier): orders maximizing price while minimizing
    // date; a point survives iff no point has both ≥ price and ≤ date
    // (strict in one). The engine reduces to per-price min-date and runs
    // the distributed EXCLUSIVE prefix-min sweep (Ranks.withPrefixMin —
    // range repartition + broadcast partition prefixes, never the
    // single-task global window); the oracle is the quadratic NOT EXISTS
    // dominance check, deliberately a different algorithm.
    QueryDef.sql(
      "q119_skyline",
      """WITH pts AS (SELECT DISTINCT CAST(floor(o_totalprice * 100) AS BIGINT) AS p,
        |    CAST(o_orderdate AS DATE) AS d
        |  FROM orders WHERE o_orderkey % 10 = 0)
        |SELECT p, d FROM pts a
        |WHERE NOT EXISTS (SELECT 1 FROM pts b
        |  WHERE b.p >= a.p AND b.d <= a.d AND (b.p > a.p OR b.d < a.d))
        |ORDER BY p DESC, d""".stripMargin) { (s, dir) =>
      val pts = Tables(s, dir).orders
        .where(col("o_orderkey") % 10 === 0)
        .select(floor(col("o_totalprice") * 100).cast("long").as("p"),
          unix_date(to_date(col("o_orderdate"))).as("dd"))
        .groupBy("p").agg(min("dd").as("dd"))
      // prefix-min over strictly HIGHER prices ⇒ ascending key -p
      val swept = Ranks.withPrefixMin(
        pts.withColumn("negp", -col("p")), Seq("negp"), col("dd"), "pmin", parts = 8)
      swept.where(col("dd") < col("pmin"))
        .select(col("p"), date_from_unix_date(col("dd").cast("int")).as("d"))
        .orderBy(col("p").desc, col("d"))
    },

    // Gaps-and-islands: consecutive-day activity streaks per user via the
    // day-minus-row_number grouping trick; per-user windows only (one
    // shuffle on user_id), then two hash aggregates.
    QueryDef.sql(
      "q120_streaks",
      """WITH ad AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |r AS (SELECT user_id, day,
        |    CAST(date_diff('day', DATE '2024-01-01', day) AS BIGINT)
        |      - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
        |  FROM ad),
        |i AS (SELECT user_id, grp, count(*) AS len FROM r GROUP BY user_id, grp)
        |SELECT user_id, count(*) AS n_streaks, CAST(max(len) AS BIGINT) AS longest,
        |  CAST(sum(len) AS BIGINT) AS active_days
        |FROM i GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      val ad = Tables(s, dir).events
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val w = Window.partitionBy("user_id").orderBy("day")
      ad.withColumn("grp",
          datediff(col("day"), to_date(lit("2024-01-01"))).cast("long")
            - row_number().over(w))
        .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
        .groupBy("user_id").agg(count(lit(1)).as("n_streaks"),
          max("len").as("longest"), sum("len").as("active_days"))
        .orderBy("user_id")
    },

    // Full MERGE semantics (WHEN MATCHED AND op='D' DELETE / WHEN MATCHED
    // UPDATE SET * / WHEN NOT MATCHED INSERT *) as Migrate.mergeApply's
    // left-anti join on the keys plus an append of the non-'D' batch rows.
    // The source batch updates every 50th order, deletes every 200th, and
    // inserts fresh keys; the oracle spells the same decision table out
    // with CASE over a full-outer join of the two sides.
    QueryDef.sql(
      "q122_merge",
      """WITH tgt AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |src AS (
        |  SELECT k, CASE WHEN k % 200 = 0 THEN 'D' ELSE 'U' END AS op,
        |         'X' AS st, cents + 1000 AS cents FROM tgt WHERE k % 50 = 0
        |  UNION ALL
        |  SELECT 9000000 + k AS k, 'I' AS op, 'N' AS st, CAST(777 AS BIGINT) AS cents
        |  FROM tgt WHERE k % 1000 = 0),
        |m AS (SELECT coalesce(t.k, s.k) AS k,
        |    CASE WHEN s.k IS NOT NULL THEN s.st ELSE t.st END AS st,
        |    CASE WHEN s.k IS NOT NULL THEN s.cents ELSE t.cents END AS cents,
        |    t.k IS NOT NULL AS matched, s.op AS op
        |  FROM tgt t FULL OUTER JOIN src s ON t.k = s.k)
        |SELECT k, st, cents FROM m
        |WHERE NOT (matched AND coalesce(op = 'D', false))
        |  AND (matched OR coalesce(op <> 'D', false))
        |ORDER BY k""".stripMargin) { (s, dir) =>
      val tgt = Tables(s, dir).orders.select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("st"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val src = tgt.where(col("k") % 50 === 0)
        .select(col("k"),
          when(col("k") % 200 === 0, "D").otherwise("U").as("op"),
          lit("X").as("st"), (col("cents") + 1000).as("cents"))
        .unionByName(tgt.where(col("k") % 1000 === 0)
          .select((col("k") + 9000000).as("k"), lit("I").as("op"),
            lit("N").as("st"), lit(777L).as("cents")))
      Migrate.mergeApply(tgt, src, Seq("k")).orderBy("k")
    },

    // Native session_window sessionization in BATCH mode (the streaming
    // operator's batch twin): Spark merges events closer than the gap
    // into one session group — no lag/cumsum scaffolding. The oracle IS
    // the lag-gap-island construction, deliberately a different
    // algorithm; the ≥-gap break matches session_window's half-open
    // [start, last+gap) semantics.
    QueryDef.sql(
      "q123_session_window",
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |m AS (SELECT user_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w >= 600000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |g AS (SELECT user_id, us,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, min(us) AS session_start_us, count(*) AS n_events
        |FROM g GROUP BY user_id, sid ORDER BY user_id, session_start_us""".stripMargin) { (s, dir) =>
      Tables(s, dir).events
        .groupBy(col("user_id"), session_window(col("ts"), "10 minutes"))
        .agg(min(unix_micros(col("ts"))).as("session_start_us"),
          count(lit(1)).as("n_events"))
        .select("user_id", "session_start_us", "n_events")
        .orderBy("user_id", "session_start_us")
    },

    // Correlated LATERAL subquery with ORDER BY + LIMIT (top-2 orders per
    // BUILDING customer): the same SQL text runs on both engines — Spark's
    // DecorrelateInnerQuery rewrites the per-row limit into a ranked join
    // (no driver loop, no per-customer query), DuckDB executes the lateral
    // directly. A third algorithmic route to top-k-per-group next to the
    // window filter (q3/q104) and the native operator (q106).
    QueryDef.sql(
      "q125_lateral",
      """SELECT c.c_custkey, o.k, o.cents
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey AS k, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_custkey = c.c_custkey
        |  ORDER BY cents DESC, k LIMIT 2) o
        |WHERE c.c_mktsegment = 'BUILDING'
        |ORDER BY c.c_custkey, cents DESC, k""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      t.customer.createOrReplaceTempView("customer")
      t.orders.createOrReplaceTempView("orders")
      s.sql(
        """SELECT c.c_custkey, o.k, o.cents
          |FROM customer c, LATERAL (
          |  SELECT o_orderkey AS k, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
          |  FROM orders WHERE o_custkey = c.c_custkey
          |  ORDER BY cents DESC, k LIMIT 2) o
          |WHERE c.c_mktsegment = 'BUILDING'
          |ORDER BY c.c_custkey, cents DESC, k""".stripMargin)
    },

    // Ordered-set string aggregation (LISTAGG ... WITHIN GROUP, new in
    // Spark 4): per region, the nation names in name order — Spark's
    // listagg vs DuckDB's ordered string_agg.
    QueryDef.sql(
      "q126_listagg",
      """SELECT r.r_name AS region, string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
        |FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name ORDER BY region""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      t.region.createOrReplaceTempView("region")
      t.nation.createOrReplaceTempView("nation")
      s.sql(
        """SELECT r.r_name AS region,
          |  listagg(n.n_name, ',') WITHIN GROUP (ORDER BY n.n_name) AS nations
          |FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
          |GROUP BY r.r_name ORDER BY region""".stripMargin)
    },

    // Safe ingestion casts: TRY_CAST turns unparseable values into NULL
    // instead of failing the job — the dirty-feed tolerance every
    // migration pipeline needs. Same literal matrix on both engines.
    QueryDef.sql(
      "q127_try_cast",
      """WITH raw(id, s) AS (VALUES
        |  (1, '42'), (2, 'abc'), (3, ''), (4, '-5'), (5, '007'),
        |  (6, '2024-01-31'), (7, '2024-02-30'), (8, 'not-a-date'), (9, NULL), (10, '99999999999999999999'))
        |SELECT id, s,
        |  TRY_CAST(s AS BIGINT) AS as_int,
        |  CASE WHEN id BETWEEN 6 AND 9 THEN TRY_CAST(s AS DATE) END AS as_date
        |FROM raw ORDER BY id""".stripMargin) { (s, dir) =>
      import s.implicits._
      Seq((1, "42"), (2, "abc"), (3, ""), (4, "-5"), (5, "007"),
        (6, "2024-01-31"), (7, "2024-02-30"), (8, "not-a-date"),
        (9, null), (10, "99999999999999999999"))
        .toDF("id", "s")
        .select(col("id"), col("s"),
          expr("TRY_CAST(s AS BIGINT)").as("as_int"),
          // date casts only on the date-shaped rows: Spark's string→date
          // accepts bare-year forms ('42' → 0042-01-01) that DuckDB rejects
          when(col("id").between(6, 9), expr("TRY_CAST(s AS DATE)")).as("as_date"))
        .orderBy("id")
    },

    // Fixed-iteration PageRank over the nation trade graph (supplier
    // nation → customer nation across lineitem/orders — the TPC-H Q7 join
    // shape produces the edges). Each superstep is edges ⋈ ranks →
    // groupBy(dst): one shuffle per iteration, Pregel-as-joins, no driver
    // adjacency. All arithmetic is ×10^6 scaled integer division, so the
    // oracle unrolling the same three supersteps matches exactly.
    QueryDef.sql(
      "q128_pagerank",
      """WITH e AS MATERIALIZED (SELECT DISTINCT s.s_nationkey AS src, c.c_nationkey AS dst
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  WHERE s.s_nationkey <> c.c_nationkey),
        |nodes AS MATERIALIZED (SELECT src AS n FROM e UNION SELECT dst FROM e),
        |deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |params AS MATERIALIZED (SELECT count(*) AS nn FROM nodes),
        |r0 AS MATERIALIZED (SELECT n, CAST(1000000 // nn AS BIGINT) AS r FROM nodes CROSS JOIN params),
        |s1 AS MATERIALIZED (SELECT e.dst AS n, SUM(r0.r // d.outdeg) AS s
        |       FROM e JOIN r0 ON e.src = r0.n JOIN deg d ON e.src = d.src GROUP BY e.dst),
        |r1 AS MATERIALIZED (SELECT nodes.n, CAST(150000 // nn + (850000 * coalesce(s1.s, 0)) // 1000000 AS BIGINT) AS r
        |       FROM nodes CROSS JOIN params LEFT JOIN s1 ON nodes.n = s1.n),
        |s2 AS MATERIALIZED (SELECT e.dst AS n, SUM(r1.r // d.outdeg) AS s
        |       FROM e JOIN r1 ON e.src = r1.n JOIN deg d ON e.src = d.src GROUP BY e.dst),
        |r2 AS MATERIALIZED (SELECT nodes.n, CAST(150000 // nn + (850000 * coalesce(s2.s, 0)) // 1000000 AS BIGINT) AS r
        |       FROM nodes CROSS JOIN params LEFT JOIN s2 ON nodes.n = s2.n),
        |s3 AS MATERIALIZED (SELECT e.dst AS n, SUM(r2.r // d.outdeg) AS s
        |       FROM e JOIN r2 ON e.src = r2.n JOIN deg d ON e.src = d.src GROUP BY e.dst),
        |r3 AS MATERIALIZED (SELECT nodes.n, CAST(150000 // nn + (850000 * coalesce(s3.s, 0)) // 1000000 AS BIGINT) AS r
        |       FROM nodes CROSS JOIN params LEFT JOIN s3 ON nodes.n = s3.n)
        |SELECT nt.n_name AS nation, r3.r AS rank_scaled
        |FROM r3 JOIN nation nt ON r3.n = nt.n_nationkey
        |ORDER BY rank_scaled DESC, nation""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      val edges = t.lineitem
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
        .where(col("s_nationkey") =!= col("c_nationkey"))
        .select(col("s_nationkey").as("src"), col("c_nationkey").as("dst"))
        .distinct()
      Graphs.pageRank(edges, 3)
        .join(t.nation, col("n") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("r").as("rank_scaled"))
        .orderBy(col("rank_scaled").desc, col("nation"))
    },

    // Aggregate FILTER clause: conditional aggregation without CASE
    // scaffolding — one pass computes per-status counts and sums side by
    // side. Identical SQL text on both engines.
    QueryDef.sql(
      "q129_agg_filter",
      """SELECT o_orderpriority AS priority,
        |  count(*) AS n,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS cents_f
        |FROM orders GROUP BY o_orderpriority ORDER BY priority""".stripMargin) { (s, dir) =>
      Tables(s, dir).orders.createOrReplaceTempView("orders")
      s.sql(
        """SELECT o_orderpriority AS priority,
          |  count(*) AS n,
          |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
          |  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
          |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS cents_f
          |FROM orders GROUP BY o_orderpriority ORDER BY priority""".stripMargin)
    },

    // Multiset set operations: INTERSECT ALL / EXCEPT ALL preserve
    // duplicate counts (min / difference of multiplicities) — the
    // bag-semantics siblings of q50's distinct set ops.
    QueryDef.sql(
      "q130_setops_all",
      """WITH a AS (SELECT o_custkey AS k FROM orders WHERE o_orderkey % 2 = 0),
        |b AS (SELECT o_custkey AS k FROM orders WHERE o_orderkey % 3 = 0),
        |i AS (SELECT k FROM a INTERSECT ALL SELECT k FROM b),
        |e AS (SELECT k FROM a EXCEPT ALL SELECT k FROM b)
        |SELECT 'intersect_all' AS op, k, count(*) AS n FROM i GROUP BY k
        |UNION ALL
        |SELECT 'except_all' AS op, k, count(*) AS n FROM e GROUP BY k
        |ORDER BY op, k""".stripMargin) { (s, dir) =>
      val o = Tables(s, dir).orders
      val a = o.where(col("o_orderkey") % 2 === 0).select(col("o_custkey").as("k"))
      val b = o.where(col("o_orderkey") % 3 === 0).select(col("o_custkey").as("k"))
      val i = a.intersectAll(b).groupBy("k").agg(count(lit(1)).as("n"))
        .select(lit("intersect_all").as("op"), col("k"), col("n"))
      val e = a.exceptAll(b).groupBy("k").agg(count(lit(1)).as("n"))
        .select(lit("except_all").as("op"), col("k"), col("n"))
      i.unionAll(e).orderBy("op", "k")
    },

    // Forward fill (LOCF): per-user event values carried over NULL gaps
    // with last_value(... IGNORE NULLS) — the time-series densification
    // primitive. NULL gaps are seeded deterministically so both engines
    // fill the same holes; per-user windows only, one shuffle.
    QueryDef.sql(
      "q131_locf",
      """WITH e AS (SELECT event_id, user_id,
        |    CASE WHEN event_id % 3 = 0 THEN NULL
        |         ELSE CAST(floor(value * 100) AS BIGINT) END AS v
        |  FROM events)
        |SELECT event_id, user_id,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |FROM e ORDER BY event_id""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir).events
        .select(col("event_id"), col("user_id"),
          when(col("event_id") % 3 === 0, lit(null))
            .otherwise(floor(col("value") * 100).cast("long")).as("v"))
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.select(col("event_id"), col("user_id"),
          last(col("v"), ignoreNulls = true).over(w).as("filled"))
        .orderBy("event_id")
    },

    // Hopping (sliding) windows in batch: native window(ts, 10m, 5m)
    // assigns every event to its two overlapping windows; the oracle
    // derives the same two hop starts arithmetically. Epoch-aligned on
    // both engines.
    QueryDef.sql(
      "q132_hopping",
      """WITH e AS (SELECT epoch_us(ts) AS us, CAST(floor(value * 100) AS BIGINT) AS v FROM events),
        |h AS (SELECT ((us // 300000000) - k) * 300000000 AS ws, v
        |      FROM e CROSS JOIN generate_series(0, 1) t(k))
        |SELECT ws, count(*) AS n, CAST(sum(v) AS BIGINT) AS sv
        |FROM h GROUP BY ws ORDER BY ws""".stripMargin) { (s, dir) =>
      Tables(s, dir).events
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"))
        .agg(count(lit(1)).as("n"), sum(floor(col("value") * 100).cast("long")).as("sv"))
        .select(unix_micros(col("w.start")).as("ws"), col("n"), col("sv"))
        .orderBy("ws")
    },

    // Bitmap-accelerated exact distinct: Spark 4's bitmap aggregate
    // family (bucket → construct → count) computes COUNT(DISTINCT)
    // without the distinct shuffle of raw values — bitmaps combine
    // map-side. The oracle is the plain COUNT(DISTINCT).
    QueryDef.sql(
      "q133_bitmap_distinct",
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      Tables(s, dir).events.createOrReplaceTempView("events")
      s.sql(
        """SELECT event_type, CAST(sum(bitmap_count(b)) AS BIGINT) AS n_users
          |FROM (SELECT event_type, bitmap_bucket_number(user_id) AS bkt,
          |        bitmap_construct_agg(bitmap_bit_position(user_id)) AS b
          |      FROM events GROUP BY event_type, bitmap_bucket_number(user_id))
          |GROUP BY event_type ORDER BY event_type""".stripMargin)
    },

    // Z-order (Morton) interleaving of two key columns — the multi-column
    // data-layout technique: files sorted by z-value cluster BOTH keys,
    // so min/max skipping prunes on either predicate. The 16-bit
    // interleave is a pure projection (identical shift/mask arithmetic on
    // both engines); the query ranks the first 100 curve positions.
    QueryDef.sql(
      "q137_zorder",
      s"""WITH z AS (SELECT l_orderkey, l_partkey, l_suppkey,
         |    ${(0 until 16).map(i =>
               s"(((l_partkey % 65536) >> $i) & 1) * ${1L << (2 * i)} + " +
               s"(((l_suppkey % 65536) >> $i) & 1) * ${1L << (2 * i + 1)}").mkString(" + ")} AS zval
         |  FROM lineitem)
         |SELECT l_orderkey, l_partkey, l_suppkey, CAST(zval AS BIGINT) AS zval
         |FROM z ORDER BY zval, l_orderkey, l_partkey LIMIT 100""".stripMargin) { (s, dir) =>
      val zval = (0 until 16).map { i =>
        (shiftright(col("l_partkey") % 65536, i).bitwiseAND(1)) * lit(1L << (2 * i)) +
          (shiftright(col("l_suppkey") % 65536, i).bitwiseAND(1)) * lit(1L << (2 * i + 1))
      }.reduce(_ + _)
      Tables(s, dir).lineitem
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          zval.cast("long").as("zval"))
        .orderBy("zval", "l_orderkey", "l_partkey")
        .limit(100)
    },

    // Change-data capture between snapshots — the inverse of q122's MERGE:
    // diff two versions of a table into an I/U/D event feed
    // (Migrate.changeCapture; one full-outer join, null-safe value
    // compare). Applying the feed back onto the old snapshot reconstructs
    // the new one — the spec asserts that round trip; here the oracle
    // recomputes the diff relationally.
    QueryDef.sql(
      "q138_change_capture",
      """WITH oldv AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |newv AS (
        |  SELECT k, CASE WHEN k % 40 = 0 THEN 'X' ELSE st END AS st,
        |         CASE WHEN k % 64 = 0 THEN cents + 5 ELSE cents END AS cents
        |  FROM oldv WHERE k % 100 <> 0
        |  UNION ALL
        |  SELECT 9000000 + k AS k, 'N' AS st, CAST(123 AS BIGINT) AS cents
        |  FROM oldv WHERE k % 500 = 0)
        |SELECT coalesce(n.k, o.k) AS k,
        |  CASE WHEN o.k IS NULL THEN 'I' WHEN n.k IS NULL THEN 'D'
        |       WHEN n.st <> o.st OR n.cents <> o.cents THEN 'U' END AS op,
        |  coalesce(n.st, o.st) AS st, coalesce(n.cents, o.cents) AS cents
        |FROM oldv o FULL OUTER JOIN newv n ON o.k = n.k
        |WHERE (o.k IS NULL) OR (n.k IS NULL) OR n.st <> o.st OR n.cents <> o.cents
        |ORDER BY k""".stripMargin) { (s, dir) =>
      val oldv = Tables(s, dir).orders.select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("st"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val newv = oldv.where(col("k") % 100 =!= 0)
        .select(col("k"),
          when(col("k") % 40 === 0, "X").otherwise(col("st")).as("st"),
          when(col("k") % 64 === 0, col("cents") + 5).otherwise(col("cents")).as("cents"))
        .unionByName(oldv.where(col("k") % 500 === 0)
          .select((col("k") + 9000000).as("k"), lit("N").as("st"), lit(123L).as("cents")))
      Migrate.changeCapture(oldv, newv, Seq("k"))
        .select("k", "op", "st", "cents")
        .orderBy("k")
    },

    // Deterministic train/val/test assignment (80/10/10): the split is a
    // pure function of the document id via the portable md5-derived hash,
    // so it is stable across runs, engines, and cluster sizes — no
    // sampling state, no shuffle beyond the count. The per-source matrix
    // verifies the proportions land where the hash sends them.
    QueryDef.sql(
      "q140_train_split",
      """WITH d AS (SELECT doc_id, source,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_split'), 1, 8))::BIGINT % 1000 AS h
        |  FROM documents),
        |s AS (SELECT source,
        |    CASE WHEN h < 800 THEN 'train' WHEN h < 900 THEN 'val' ELSE 'test' END AS split
        |  FROM d)
        |SELECT source, split, count(*) AS n
        |FROM s GROUP BY source, split ORDER BY source, split""".stripMargin) { (s, dir) =>
      val h = conv(substring(md5(concat(col("doc_id").cast("string"), lit("_split"))), 1, 8),
        16, 10).cast("long") % 1000
      Tables(s, dir).documents
        .select(col("source"),
          when(h < 800, "train").when(h < 900, "val").otherwise("test").as("split"))
        .groupBy("source", "split").agg(count(lit(1)).as("n"))
        .orderBy("source", "split")
    },
  )
}
