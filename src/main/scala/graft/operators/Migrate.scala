package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.Graft

/** Data migration sinks/sources (SURVEY S5/S6, §3.2):
  *
  *  - CSV export with the reference's option matrix (separator, quote,
  *    escape-backslash, NULL token, header — `csv_migrate_row.go:161-219`,
  *    value formatting `database/oracle/data_migrate.go:845-1010`);
  *  - one keyed apply, [[mergeApply]]: safe-mode REPLACE INTO
  *    (`stmt_migrate_row.go:206-303`) and op-tagged MERGE / CDC apply
  *    (`consumer.go:692-792`) are the same anti-join + append — the batch
  *    wins, unmatched target rows survive, replay is a no-op.
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

  private def csvOptions(o: CsvOptions): Map[String, String] = Map(
    "sep" -> o.sep, "quote" -> o.quote, "escape" -> o.escape,
    "nullValue" -> o.nullValue, "header" -> o.header.toString,
    "timestampFormat" -> o.timestampFormat,
    "timestampNTZFormat" -> o.timestampFormat)

  def writeCsv(df: DataFrame, dir: String, o: CsvOptions = CsvOptions()): Unit =
    Graft.span("Migrate.writeCsv") {
      df.write.mode("overwrite").options(csvOptions(o)).csv(dir)
    }

  def readCsv(spark: SparkSession, dir: String, schema: StructType,
      o: CsvOptions = CsvOptions()): DataFrame =
    spark.read.schema(schema).options(csvOptions(o)).csv(dir)

  /** Change-data capture between two snapshots — the inverse of
    * [[mergeApply]]: full-outer join on the keys comparing the value
    * columns, emitting one event row per difference with `op` ∈
    * {'I' (new key), 'D' (key gone), 'U' (values changed)}. Unchanged
    * rows produce nothing. `mergeApply(old, changeCapture(old, new), keys)`
    * reconstructs `new` exactly. It must see both sides, so it keeps its
    * full-outer join; it is not an apply.
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

  /** The one keyed apply (REPLACE INTO, or `MERGE INTO t USING s ON keys
    * WHEN MATCHED AND op='D' THEN DELETE WHEN MATCHED THEN UPDATE SET *
    * WHEN NOT MATCHED THEN INSERT *`): a left-anti join drops every target
    * row whose key the batch carries, then the batch's upsert rows append —
    * every row with `opCol = None`, else those whose op is not 'D', so an
    * unmatched 'D' is a no-op and a NULL op acts as 'D'. NULL keys never
    * match; a target that repeats a key keeps only the batch's rows for it.
    * The result is keys ++ the target's value columns. Spark picks the join:
    * a broadcast hash join for a small batch (the target is not shuffled),
    * a sort-merge anti-join for a large one.
    */
  def mergeApply(target: DataFrame, source: DataFrame, keys: Seq[String],
      opCol: Option[String] = Some("op")): DataFrame = {
    val cols = (keys ++ target.columns.filterNot(keys.contains)).map(col)
    val upserts = opCol.fold(source)(op => source.where(col(op) =!= "D"))
    target.select(cols: _*)
      .join(source.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(upserts.select(cols: _*))
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
