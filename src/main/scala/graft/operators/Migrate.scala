package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Data migration sinks/sources (SURVEY S5/S6, §3.2):
  *
  *  - CSV export with the reference's option matrix (separator, quote,
  *    escape-backslash, NULL token, header — `csv_migrate_row.go:161-219`,
  *    value formatting `database/oracle/data_migrate.go:845-1010`);
  *  - safe-mode apply (`REPLACE INTO` semantics,
  *    `stmt_migrate_row.go:206-303`): key-based delete+insert, idempotent
  *    under replay — the batch wins, unmatched target rows survive.
  *
  * As one lazy plan: read → canonical projection → partitioned write; the
  * reference's chunk×thread pipeline collapses into Spark partitioning.
  */
object Migrate {

  final case class CsvOptions(
      sep: String = ",",
      quote: String = "\"",
      escape: String = "\\",
      nullValue: String = "NULL",
      header: Boolean = true,
      timestampFormat: String = "yyyy-MM-dd HH:mm:ss.SSSSSS")

  def writeCsv(df: DataFrame, dir: String, o: CsvOptions = CsvOptions()): Unit =
    df.write.mode("overwrite")
      .option("sep", o.sep).option("quote", o.quote).option("escape", o.escape)
      .option("nullValue", o.nullValue).option("header", o.header.toString)
      .option("timestampFormat", o.timestampFormat)
      .option("timestampNTZFormat", o.timestampFormat)
      .csv(dir)

  def readCsv(spark: SparkSession, dir: String, schema: StructType,
      o: CsvOptions = CsvOptions()): DataFrame =
    spark.read.schema(schema)
      .option("sep", o.sep).option("quote", o.quote).option("escape", o.escape)
      .option("nullValue", o.nullValue).option("header", o.header.toString)
      .option("timestampFormat", o.timestampFormat)
      .option("timestampNTZFormat", o.timestampFormat)
      .csv(dir)

  /** Safe-mode upsert: REPLACE INTO ≡ anti-join out the batch's keys, then
    * append the batch. Replay-safe: applying the same batch twice is a
    * no-op the second time.
    */
  def safeModeApply(target: DataFrame, batch: DataFrame, keys: Seq[String]): DataFrame =
    target.join(batch.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(batch)

  /** Change-data capture between two snapshots — the inverse of
    * [[mergeApply]]: full-outer join on the keys comparing the value
    * columns, emitting one event row per difference with `op` ∈
    * {'I' (new key), 'D' (key gone), 'U' (values changed)}. Unchanged
    * rows produce nothing. `mergeApply(old, changeCapture(old, new), keys)`
    * reconstructs `new` exactly.
    */
  def changeCapture(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String]): DataFrame = {
    val valueCols = oldDf.columns.filterNot(keys.contains).toSeq
    val o = oldDf.select((keys ++ valueCols).map(col): _*).withColumn("__o", lit(true))
    val n = newDf.select((keys.map(col) ++ valueCols.map(c => col(c).as(s"__n_$c"))): _*)
      .withColumn("__n", lit(true))
    val changed = valueCols.map(c => !(col(c) <=> col(s"__n_$c"))).reduce(_ || _)
    o.join(n, keys, "full_outer")
      .withColumn("op",
        when(col("__o").isNull, "I")
          .when(col("__n").isNull, "D")
          .when(changed, "U"))
      .where(col("op").isNotNull)
      .select(((keys.map(col) :+ col("op")) ++
        valueCols.map(c => coalesce(col(s"__n_$c"), col(c)).as(c))): _*)
  }

  /** Full MERGE semantics without a table format: source rows carry an
    * `opCol` — matched 'D' deletes the target row, any other matched op
    * updates it (source values win), unmatched source rows insert, and
    * untouched target rows pass through. One full-outer shuffle join on
    * the keys (AQE skew-splits it); the SQL-equivalent is
    * `MERGE INTO t USING s ON keys WHEN MATCHED AND op='D' THEN DELETE
    * WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`.
    * Source and target must share the non-key value columns; `op` is
    * dropped from the result.
    */
  def mergeApply(target: DataFrame, source: DataFrame, keys: Seq[String],
      opCol: String = "op"): DataFrame = {
    val valueCols = target.columns.filterNot(keys.contains).toSeq
    require(valueCols.forall(source.columns.contains),
      s"source must carry target's value columns ${valueCols.mkString(",")}")
    val t = target.select((keys ++ valueCols).map(col): _*)
      .withColumn("__t", lit(true))
    val sCols = keys.map(col) ++ valueCols.map(c => col(c).as(s"__s_$c")) :+ col(opCol).as("__op")
    val s = source.select(sCols: _*).withColumn("__s", lit(true))
    t.join(s, keys, "full_outer")
      .where(!(coalesce(col("__t"), lit(false)) && coalesce(col("__s"), lit(false)) &&
        col("__op") === "D"))
      // unmatched 'D' ops are no-ops, not inserts
      .where(coalesce(col("__t"), lit(false)) || col("__op") =!= "D")
      .select((keys.map(col) ++ valueCols.map(c =>
        when(col("__s").isNotNull, col(s"__s_$c")).otherwise(col(c)).as(c))): _*)
  }

  /** Hive-style partitioned parquet layout — the 100 TB fact-table
    * organization: scans with a partition-column predicate read only the
    * matching directories (PartitionFilters, no data IO for pruned
    * partitions), and joins against a filtered dim trigger dynamic
    * partition pruning (PartitionPruningSpec asserts both plans).
    */
  def writePartitioned(df: DataFrame, dir: String, partCols: Seq[String]): Unit =
    // repartition on the partition columns first: without it every task
    // writes a sliver into every partition directory (tasks × partitions
    // small files — the classic 100 TB lake pathology); with it each
    // partition's rows are clustered into whole files
    df.repartition(partCols.map(org.apache.spark.sql.functions.col): _*)
      .write.mode("overwrite").partitionBy(partCols: _*).parquet(dir)
}
