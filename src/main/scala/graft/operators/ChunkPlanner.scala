package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Statistics-driven range chunking (SURVEY O2/O3, P3, A7).
  *
  * The reference picks the highest-NDV index as split key
  * (`database/oracle/data_compare.go:192-281`, `utils/structure/sort.go:39-46`),
  * reads histogram buckets, and merges/splits them to `chunk-size` rows
  * (`database/processor/data_compare_divider.go:41-201`), emitting
  * lexicographic range predicates (`utils/structure/chunk.go:77-677`).
  *
  * Spark-first re-expression: `approxQuantile` supplies the equi-depth
  * bounds in one pass (no histogram metadata needed), and instead of one
  * query per chunk the chunk id becomes a *column* — a single scan
  * aggregates all chunks at once, which is the shape that survives 100 TB
  * (per-chunk jobs would mean O(chunks) scans).
  */
object ChunkPlanner {

  final case class Chunk(id: Int, lower: Option[Double], upper: Option[Double]) {
    /** Range predicate mirroring chunk.go bound conventions: first chunk
      * lower-unbounded, last upper-unbounded; inner chunks [lower, upper).
      */
    def predicate(key: Column): Column = (lower, upper) match {
      case (None, None)       => lit(true)
      case (None, Some(u))    => key < lit(u)
      case (Some(l), None)    => key >= lit(l)
      case (Some(l), Some(u)) => key >= lit(l) && key < lit(u)
    }
  }

  /** Choose the split key: max (exact or approximate) NDV, mirroring the
    * reference's PK > UK > max-DISTINCT_KEYS index rule (O2). At scale use
    * approx_count_distinct — one pass over candidates.
    */
  def chooseSplitKey(df: DataFrame, candidates: Seq[String]): String = {
    val row = df.agg(
      approx_count_distinct(candidates.head).as(candidates.head),
      candidates.tail.map(c => approx_count_distinct(c).as(c)): _*).head()
    candidates.maxBy(c => row.getAs[Long](c))
  }

  /** Equi-depth chunk plan over a numeric key via approxQuantile (A7 —
    * the reference's bucket synthesis `utils/structure/bucket.go:228-258`).
    * Degenerate stats → single whole-table chunk (O5 degradation,
    * `data_compare_task.go:775-789`).
    */
  def plan(df: DataFrame, key: String, nChunks: Int, relErr: Double = 0.001): Seq[Chunk] = {
    if (nChunks <= 1) return Seq(Chunk(0, None, None))
    val probs  = (1 until nChunks).map(_.toDouble / nChunks).toArray
    val bounds = df.stat.approxQuantile(key, probs, relErr).distinct.sorted
    if (bounds.isEmpty) return Seq(Chunk(0, None, None))
    val lowers = None +: bounds.map(Some(_)).toSeq
    val uppers = bounds.map(Some(_)).toSeq :+ None
    lowers.zip(uppers).zipWithIndex.map { case ((l, u), i) => Chunk(i, l, u) }
  }

  /** Chunk id as a single column expression: index of the first bound
    * greater than the key. Lets one aggregation compute per-chunk results
    * for every chunk simultaneously.
    */
  def chunkIdColumn(key: Column, chunks: Seq[Chunk]): Column = {
    val bounds = chunks.flatMap(_.upper)
    bounds.zipWithIndex.foldRight(lit(bounds.length)) { case ((b, i), acc) =>
      when(key < lit(b), lit(i)).otherwise(acc)
    }
  }

  /** Lexicographic multi-column range predicate — `Range.ToString`
    * semantics (`utils/structure/chunk.go:98-190`): for bounds (l1..ln),
    * key > lower ⇔ (k1>l1) ∨ (k1=l1 ∧ k2>l2) ∨ … ; all-bounds-equal ⇒
    * empty range (`1=0`, chunk.go:187-190).
    */
  def lexGreater(keys: Seq[Column], bounds: Seq[Column], orEqual: Boolean = false): Column = {
    require(keys.length == bounds.length && keys.nonEmpty)
    val strict = keys.zip(bounds).zipWithIndex.map { case ((k, b), i) =>
      val prefixEq = keys.take(i).zip(bounds.take(i))
        .map { case (pk, pb) => pk === pb }
        .foldLeft(lit(true))(_ && _)
      prefixEq && k > b
    }.reduce(_ || _)
    if (orEqual) strict || keys.zip(bounds).map { case (k, b) => k === b }.reduce(_ && _)
    else strict
  }

  def lexRange(keys: Seq[Column], lower: Seq[Column], upper: Seq[Column]): Column =
    lexGreater(keys, lower, orEqual = true) && !lexGreater(keys, upper, orEqual = true)

  /** [[collatedPlan]]'s default NDV guard: at or below it the divider is
    * one exact window over the distinct keys, above it the distributed
    * range-shuffle prefix sum.
    */
  val NdvGuard = 1000000L

  /** Collation-aware equi-depth chunk plan over a STRING key (SURVEY §7.3
    * hard part 1 — the reference renders NLSSORT(col, 'NLS_SORT=...')
    * range predicates so chunk boundaries respect the column's collation,
    * `utils/structure/chunk.go:80-96`, `bucket.go:52-84`).
    *
    * Spark-first re-expression: the key is grouped under a real collation
    * (Spark 4 `collate(k, collation)` — equality and hashing honor it
    * natively), so rows equal-under-collation can NEVER split across
    * chunks, which is the property the reference's NLSSORT ranges exist to
    * guarantee. One count aggregate over the collated key (map-side
    * combined) reduces the table to its O(NDV) distinct-key relation;
    * the running-total divider then walks that small relation in collated
    * order — the same driver-side histogram-bucket merge the reference
    * runs (`data_compare_divider.go:41-201`), here a window over O(NDV)
    * rows, not O(rows). Bounds are emitted as the case-folded boundary
    * text (deterministic on both engines for a case-insensitive collation).
    *
    * Returns one row per chunk: chunk_id, lower_bound, upper_bound,
    * n_rows, n_keys.
    */
  def collatedPlan(
      df: DataFrame,
      key: String,
      nChunks: Int,
      collation: String = "UTF8_LCASE",
      ndvGuard: Long = NdvGuard): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grouped = df
      .groupBy(expr(s"collate($key, '$collation')").as("kc"))
      .agg(count(lit(1)).as("cnt"), min(col(key)).as("k_repr"))
      .select(lower(col("k_repr")).as("kl"), col("cnt"))
      // Rare case-fold collisions (two collation-distinct groups whose
      // lower() text coincides, e.g. locale-special casings) merge here so
      // kl is unique — bounds stay unambiguous and the distributed divider
      // below is exact (Ranks requires unique order keys).
      .groupBy("kl").agg(sum("cnt").as("cnt"))
    // NDV gate (one map-side-combined sketch pass): the reference's usual
    // chunk keys are PK/UK indexes (database/oracle/data_compare.go:192-244)
    // where NDV ≈ rows — a single-partition divider window over that
    // relation would be a full-table one-task sort. Below the guard the
    // distinct-key relation is sketch-sized (the reference's histogram
    // metadata) and the exact window is cheapest; above it the divider
    // switches to the distributed range-shuffle prefix sum (Ranks), where
    // no task ever holds more than one range partition.
    val ndv = df.agg(approx_count_distinct(lower(col(key)))).head().getLong(0)
    val withChunk =
      if (ndv <= ndvGuard) {
        val w   = Window.orderBy("kl").rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = Window.partitionBy()
        grouped
          .withColumn("cumb", sum("cnt").over(w) - col("cnt"))
          .withColumn("total", sum("cnt").over(tot))
          .withColumn("chunk_id", expr(s"CAST((cumb * $nChunks) div total AS INT)"))
      } else {
        val (cum, total0) =
          Ranks.withRunningTotalAndTotal(grouped, Seq("kl"), col("cnt"), out = "cum")
        val total = math.max(total0, 1L)
        cum
          .withColumn("cumb", col("cum") - col("cnt"))
          .withColumn("chunk_id", expr(s"CAST((cumb * $nChunks) div ${total}L AS INT)"))
      }
    withChunk
      .groupBy("chunk_id")
      .agg(
        min(col("kl")).as("lower_bound"),
        max(col("kl")).as("upper_bound"),
        sum(col("cnt")).as("n_rows"),
        count(lit(1)).as("n_keys"))
  }
}
