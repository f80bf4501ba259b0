package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Canonical, Checksums}

/** The data_compare taskflow re-expressed as Spark plans (SURVEY §3.1,
  * J1/J2/J4, A1-A4, U3; `database/taskflow/data_compare.go`,
  * `database/processor/data_compare_row.go`).
  *
  * Reference shape: per chunk, run COUNT/MD5-sum/CRC32-sum on both
  * databases concurrently; on mismatch, rescan the chunk rows into
  * `map[row]count` multisets, diff them (`Cmp`, data_compare_row.go:2131),
  * and emit INSERT/DELETE repair SQL.
  *
  * Spark-first shape (designed for 100 TB):
  *  1. chunk id is a column; ONE pass per side computes every chunk's
  *     (count, checksum) via partial aggregation — rows collapse to one
  *     per chunk map-side, so the shuffle is O(chunks), not O(rows);
  *  2. chunk statuses come from one broadcast-able full-outer join on
  *     chunk_id (O(chunks) rows on both sides);
  *  3. the row-level rescan is restricted to mismatched chunks with a
  *     broadcast semi-join filter ([[restrictToChunks]]) before the row
  *     diff — at a 0.1% mismatch rate the rescan reads 0.1% of chunks,
  *     mirroring the reference's only-failed-chunks Resume (O9);
  *  4. the row diff is one tagged union and one aggregate, multiset-exact
  *     (duplicate counts) as `Cmp`'s sv-dv arithmetic is.
  */
object DataCompare {

  /** Per-chunk (count, crc32-wrap-sum, 4×md5-split-sum) in one pass.
    * The canonical row string and its md5 are materialized in a projection
    * BEFORE the aggregate — otherwise each of the 6 aggregate expressions
    * re-evaluates the concat/format/digest chain per row (no CSE across
    * aggregate expressions).
    */
  def chunkChecksums(df: DataFrame, chunkId: Column, cols: Seq[String]): DataFrame = {
    val prepared = df
      .select(chunkId.as("chunk_id"), Canonical.rowString(df, cols).as("__row"))
      .select(col("chunk_id"), col("__row"), md5(col("__row")).as("__md5"))
    prepared.groupBy("chunk_id")
      .agg(
        count(lit(1)).as("cnt"),
        (sum(crc32(col("__row"))) % lit(4294967296L)).as("crc32") +:
          (0 until 4).map { i =>
            sum(conv(substring(col("__md5"), i * 8 + 1, 8), 16, 10).cast("long")).as(s"md5_$i")
          }: _*)
  }

  /** Fast internal chunk screen: per-chunk (count, wrapping sum of
    * xxhash64 over the raw columns) on both sides, returning the ids of
    * mismatched chunks. Unlike [[chunkChecksums]] this renders no
    * canonical strings and runs no md5 — xxhash64 works on the raw column
    * bytes inside codegen — so it is the cheap first pass when the caller
    * only needs WHICH chunks differ (the reportable md5/crc32 checksums
    * are a separate, user-facing method). Long-overflow wraps identically
    * on both sides of the comparison, so the screen is exact: a chunk
    * passes iff count and hash-sum both match.
    */
  def fastMismatchedChunkIds(
      src: DataFrame, dst: DataFrame, chunkId: Column, cols: Seq[String]): Array[Long] =
    graft.core.Graft.span("DataCompare.fastMismatchedChunkIds") {
      // tagged union: src rows carry +1, dst rows −1; per chunk, the signed
      // count and signed hash-sum are BOTH zero iff the sides' (count, sum)
      // pairs match. ONE aggregate over the union — map-side partial agg
      // collapses each side to O(chunks) before the single shuffle; no join.
      def tagged(df: DataFrame, tag: Int): DataFrame =
        // hash reduced to 32 bits pre-sum: the aggregate stays far from Long
        // overflow (ANSI mode throws on wrap) at any realistic chunk size
        df.select(chunkId.as("chunk_id"), lit(tag.toLong).as("__t"),
          (xxhash64(cols.map(col): _*) % lit(4294967296L)).as("__h"))
      tagged(src, 1).unionAll(tagged(dst, -1))
        .groupBy("chunk_id")
        // decimal(38,0) accumulator: a degenerate whole-table "chunk" (O5
        // stats-missing fallback) can hold billions of rows, where a long
        // sum of ±2^32-bounded hashes would overflow (ANSI mode throws)
        .agg(sum(col("__t")).as("dcnt"),
          sum((col("__t") * col("__h")).cast("decimal(38,0)")).as("dhsum"))
        .where(col("dcnt") =!= 0L || col("dhsum") =!= lit(0L).cast("decimal(38,0)"))
        // cast: callers may pass an IntegerType chunk-id column (e.g. int
        // literals from a planner), which getLong would ClassCastException on
        .select(col("chunk_id").cast("long")).collect().map(_.getLong(0))
    }

  /** Chunk status table: full-outer join of the two sides' checksum rows,
    * classified EQUAL / DIFF / SRC_ONLY / DST_ONLY (U3 rollup input).
    */
  def compareChunks(src: DataFrame, dst: DataFrame, chunkId: Column, cols: Seq[String]): DataFrame = {
    val s = chunkChecksums(src, chunkId, cols)
    val d = chunkChecksums(dst, chunkId, cols)
    val joined = s.as("s").join(d.as("d"), Seq("chunk_id"), "full_outer")
    val eqCols = Seq("cnt", "crc32", "md5_0", "md5_1", "md5_2", "md5_3")
      .map(c => col(s"s.$c") === col(s"d.$c"))
      .reduce(_ && _)
    joined.select(
      col("chunk_id"),
      coalesce(col("s.cnt"), lit(0L)).as("src_cnt"),
      coalesce(col("d.cnt"), lit(0L)).as("dst_cnt"),
      when(col("s.cnt").isNull, "DST_ONLY")
        .when(col("d.cnt").isNull, "SRC_ONLY")
        .when(eqCols, "EQUAL")
        .otherwise("DIFF").as("status"))
  }

  /** Multiset row diff (J1): rows to add to dst (src∖dst) and rows to
    * delete from dst (dst∖src), duplicate-count aware. This is the
    * reference's `Cmp` sv−dv arithmetic (`data_compare_row.go:2137-2152`)
    * distributed: ONE sum(±1) aggregate over the tagged union of both sides
    * produces both directions — half the shuffles of exceptAll×2, and the
    * aggregate collapses rows map-side before the shuffle. Rows with a
    * count delta are re-expanded |sv−dv| times, so the result is
    * multiset-identical to (src EXCEPT ALL dst) ∪ (dst EXCEPT ALL src).
    * `mismatchedChunks` restricts the rescan ([[restrictToChunks]]).
    */
  def rowDiff(
      src: DataFrame,
      dst: DataFrame,
      cols: Seq[String],
      chunkId: Option[Column] = None,
      mismatchedChunks: Option[DataFrame] = None): DataFrame = {
    def restrict(df: DataFrame): DataFrame = (chunkId, mismatchedChunks) match {
      case (Some(cid), Some(mc)) => restrictToChunks(df, cid, mc)
      case _ => df
    }
    // tagged union, ONE aggregate: src rows carry +1, dst rows −1, and
    // sum(tag) grouped by the full column tuple IS the Cmp sv−dv delta —
    // no per-side count aggregates and no full-outer join (half the
    // shuffles; grouping treats NULLs as equal, matching the reference's
    // NVL(c,'0') rendering, with no null-safe-join subtlety to get wrong).
    val tagged = restrict(src).select(cols.map(col) :+ lit(1L).as("__t"): _*)
      .unionAll(restrict(dst).select(cols.map(col) :+ lit(-1L).as("__t"): _*))
    tagged
      .groupBy(cols.map(col): _*).agg(sum(col("__t")).as("__delta"))
      .where(col("__delta") =!= 0L)
      .withColumn("side", when(col("__delta") > 0, "ADD").otherwise("DEL"))
      .withColumn("__dup", explode(sequence(lit(1L), abs(col("__delta")))))
      .select(cols.map(col) :+ col("side"): _*)
  }

  /** The rows of `df` whose computed `chunkId` is one of `chunks`'
    * `chunk_id`s (a broadcast left-semi join): the one chunk restriction of
    * [[rowDiff]] and `CompareRunner.resume`.
    */
  def restrictToChunks(df: DataFrame, chunkId: Column, chunks: DataFrame): DataFrame =
    df.withColumn("__chunk", chunkId)
      .join(broadcast(chunks.select(col("chunk_id").as("__chunk"))), Seq("__chunk"), "left_semi")
      .drop("__chunk")

  /** Repair statement generation (J4, `data_compare_row.go:1289-1340`):
    * ADD → INSERT INTO target, DEL → DELETE FROM target, values rendered
    * through the canonical formatter.
    */
  def repairSql(diff: DataFrame, table: String, cols: Seq[String]): DataFrame = {
    val schema = diff.schema
    def render(n: String): Column = {
      val c = Canonical.canonical(col(n), schema(n).dataType)
      concat(lit("'"), c, lit("'"))
    }
    val insertVals = concat_ws(",", cols.map(render): _*)
    val wherePred  = concat_ws(" AND ", cols.map(n => concat(lit(n + "="), render(n))): _*)
    diff.select(
      col("side"),
      when(col("side") === "ADD",
        concat(lit(s"INSERT INTO $table (${cols.mkString(",")}) VALUES ("), insertVals, lit(")")))
        .otherwise(concat(lit(s"DELETE FROM $table WHERE "), wherePred)).as("stmt"))
  }

  /** Table-level rollup (U3, `data_compare_task.go:640-744`): a table is
    * EQUAL iff every chunk is EQUAL.
    */
  def tableSummary(chunkStatus: DataFrame): DataFrame =
    chunkStatus.agg(
      count(lit(1)).as("chunk_totals"),
      sum(when(col("status") === "EQUAL", 1L).otherwise(0L)).as("equal_chunks"),
      sum(col("src_cnt")).as("src_rows"),
      sum(col("dst_cnt")).as("dst_rows"))
      .withColumn("table_status",
        when(col("equal_chunks") === col("chunk_totals"), "EQUAL").otherwise("NOT_EQUAL"))
}
