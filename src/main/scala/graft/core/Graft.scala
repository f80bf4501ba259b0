package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session conventions shared by every entry point (Verify, Bench, tests).
  *
  * Scale notes (designed for ~100 TB on a 1000-executor cluster, tested on
  * local[32]): shuffle partition count comes from the environment rather than
  * Spark's 200 default; AQE is on so runtime coalescing / skew-join splitting
  * re-plans per stage; broadcast threshold stays at Spark's default so dim
  * tables (region/nation/supplier at any SF) broadcast instead of shuffling.
  */
object Graft {
  /** Apply engine conventions to an already-built session. */
  def configure(spark: SparkSession): SparkSession = {
    val c = spark.conf
    c.set("spark.sql.session.timeZone", "UTC")
    c.set("spark.sql.adaptive.enabled", "true")
    c.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    c.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // r10 (guide §3.1): AQE can rewrite a sort-merge join to a shuffled
    // HASH join when every post-shuffle build partition is under this
    // threshold of SHUFFLE bytes. Default OFF (Spark's own default): the
    // closing session's ScaleCheck re-cert OOMed in
    // ShuffledHashJoinExec.buildHashedRelation with the mid-round 64m
    // default — the threshold bounds compressed shuffle bytes, not the
    // built hash map (several × larger), and with 32 concurrent tasks
    // sharing local execution memory a 64m build partition does NOT
    // verifiably fit. The local A/B had measured the rewrite as noise
    // anyway; clusters with generous per-task memory can opt in via
    // SPARK_GRAFT_SHJ_THRESHOLD.
    c.set("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
      sys.env.getOrElse("SPARK_GRAFT_SHJ_THRESHOLD", "0"))
    // events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
    // reader rejects; read as raw Long nanos and convert in Tables.events.
    c.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the charset-conversion leg (P7: GBK→UTF-8 migration) needs the full
    // JVM charset registry in encode()/decode(); Spark 4 restricts to a
    // 7-charset ANSI list unless this is set
    c.set("spark.sql.legacy.javaCharsets", "true")
    graft.plans.GraftFunctions.register(spark) // native exprs (scaled_dot)
    spark
  }

  /** Materialize `df` hash-partitioned on `key` with the partitioning
    * PRESERVED through the lineage cut — the building block of every
    * iterative operator (CC rounds, PageRank supersteps, BFS hops): the
    * relation is shaped ONCE and every same-key consumer across all
    * iterations reads the checkpoint exchange-free. A localCheckpoint
    * compiled under AQE captures UnknownPartitioning (the AQE plan is
    * per-stage; the RDD's partitioning never reaches the LogicalRDD), so
    * consumers silently RE-EXCHANGE the relation every iteration —
    * PartitionedCheckpointSpec's control case, r10.
    *
    * Two passes, so the partition count stays SCALE-ADAPTIVE (guide §2 —
    * a constant tuned for either local mode or the cluster is wrong at
    * the other end):
    *  1. materialize `df` under AQE — runtime coalescing sizes the
    *     result from actual bytes (1 partition at spec scale, thousands
    *     at 100 TB);
    *  2. re-shuffle the MATERIALIZED rows to hashpartitioning(key, p) at
    *     exactly that count as a [[stampedCheckpoint]], so the LogicalRDD
    *     keeps the partitioning — honored even by consumers that run
    *     WITH AQE on.
    * Pass 2 re-exchanges the relation once from memory — metadata-grain
    * here (edges/labels/ranks, never payloads) and bought back many
    * times over by the per-iteration exchanges it removes. A hot key
    * costs partition imbalance bounded by that key's rows (iteration
    * joins keep full AQE, including skew split on their other inputs).
    * Pass 2 is LAZY (r11): the stamp is fixed at compile time, so the
    * first consumer action doubles as its materialization job (one
    * driver barrier fewer per iterative-operator invocation); the staged
    * pass stays eager because it must run to learn p.
    */
  def partitionedCheckpoint(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val staged = df.localCheckpoint()
    // floor 2: a 1→1-partition shuffle is elided by planning, leaving the
    // checkpoint with UnknownPartitioning — exactly the defect this
    // helper removes (observed: the spec's control case)
    val p = math.max(2, staged.rdd.getNumPartitions)
    stampedCheckpoint(staged.repartition(p, key), p)
  }

  /** Checkpoint a plan whose FINAL shuffle is keyed the way consumers
    * need (the CC round's groupBy(v)), compiled with AQE off and the
    * shuffle count pinned to exactly `p` — the plan's own exchange
    * doubles as the partitioning stamp, so unlike
    * [[partitionedCheckpoint]] no second pass re-shuffles the
    * materialized rows, and map-side partial aggregation stays BELOW the
    * exchange (an explicit repartition(p, key) before a groupBy would
    * hoist the partial agg above it and shuffle pre-aggregation rows).
    * `p` comes from an already-stamped sibling relation (the CC loop
    * passes sym's count), so the count stays scale-adaptive — AQE sized
    * the sibling from actual bytes. Trade-off: this one query skips AQE
    * coalescing/skew handling; callers use it for plans whose per-key
    * volume is already collapsed by a partial aggregate.
    *
    * The compile happens in a cloned session (graftshims
    * ClonedCheckpoint), so the caller's session keeps AQE and its
    * partition count throughout — a `core.Par` leg compiling alongside
    * sees the session unchanged (PartitionedCheckpointSpec).
    */
  def stampedCheckpoint(df: DataFrame, p: Int, eager: Boolean = false): DataFrame =
    org.apache.spark.sql.graftshims.ClonedCheckpoint.localCheckpoint(df,
      Map("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> p.toString), eager)

  def local(cores: Int = 32): SparkSession = configure(
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate())
}

/** Readers for the driver-provided parquet corpus (TESTDATA.md). */
final case class Tables(spark: SparkSession, dir: String) {
  /** Reads a fixture table, normalizing timestamp encodings: parquet
    * `timestamp[us]` with isAdjustedToUTC=false surfaces as TIMESTAMP_NTZ
    * in Spark 4 but as plain TIMESTAMP in DuckDB. Cast NTZ → session-tz
    * TIMESTAMP (session tz is pinned to UTC in Graft.configure), which
    * preserves every field of the wall-clock value, so instant-based
    * functions (unix_micros & co) work and both engines agree.
    */
  private def rd(name: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.TimestampNTZType
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    raw.schema.fields.filter(_.dataType == TimestampNTZType).foldLeft(raw) {
      (df, f) => df.withColumn(f.name, col(f.name).cast("timestamp"))
    }
  }
  def region: DataFrame     = rd("region")
  def nation: DataFrame     = rd("nation")
  def customer: DataFrame   = rd("customer")
  def supplier: DataFrame   = rd("supplier")
  def part: DataFrame       = rd("part")
  def orders: DataFrame     = rd("orders")
  def lineitem: DataFrame   = rd("lineitem")

  /** events.ts is nanosecond-precision parquet; Spark reads it as Long
    * nanos (nanosAsLong). Truncate to microseconds — exactly what DuckDB
    * does when it surfaces the same column — so both engines see identical
    * timestamp values.
    */
  def events: DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    val raw = rd("events")
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }
  def documents: DataFrame  = rd("documents")
  def embeddings: DataFrame = rd("embeddings")
}

/** One verifiable operator: a DataFrame program plus (when SQL-expressible)
  * a DuckDB oracle producing identical column names and values. Rows are
  * deterministically ordered on both sides so the driver's hash compare is
  * stable regardless of its own sort behavior.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def sql(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, Some(oracle))
  def rowsOnly(name: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, None)
}
