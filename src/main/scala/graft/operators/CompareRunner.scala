package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Checkpointed compare task runner (SURVEY O9; `database/database.go:
  * 69-111` Init ∥ Run ∥ Resume, chunk status persisted per run in the
  * meta-DB and `Resume()` re-running only non-success chunks,
  * `data_compare_task.go:640-755`).
  *
  * Spark-native state store: the chunk-status table is written to a
  * parquet state dir after every run. `resume` reads it back, re-verifies
  * ONLY the chunks that were not EQUAL (broadcast semi-join restriction —
  * at a 0.1% failure rate the re-run touches 0.1% of the data), merges
  * the fresh verdicts over the old ones, and persists the union. Batch
  * jobs get the same only-failed-work-repeats property the reference's
  * `enable-checkpoint` gives, with idempotent overwrite writes.
  */
final class CompareRunner(
    spark: SparkSession,
    stateDir: String,
    cols: Seq[String],
    chunkId: Column) {

  private val statePath = s"$stateDir/chunk_status"

  /** State versions are immutable (`v_0`, `v_1`, …, latest wins) — a
    * resume writes a NEW version instead of overwriting, so any plan
    * still referencing an older version (including the merge plan itself,
    * which lazily reads the previous version) never loses its files.
    */
  private def versions(): Seq[Int] = {
    val d = new java.io.File(statePath)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("v_"))
      .map(_.getName.stripPrefix("v_").toInt).toSeq.sorted
  }

  def loadState(): Option[DataFrame] =
    versions().lastOption.map(v => spark.read.parquet(s"$statePath/v_$v"))

  private def persist(status: DataFrame): DataFrame = {
    val next = versions().lastOption.getOrElse(-1) + 1
    val path = s"$statePath/v_$next"
    status.write.mode("errorifexists").parquet(path)
    spark.read.parquet(path)
  }

  /** Full run: checksum every chunk on both sides, persist the verdicts. */
  def run(src: DataFrame, dst: DataFrame): DataFrame =
    persist(DataCompare.compareChunks(src, dst, chunkId, cols))

  /** Resume: re-verify only chunks whose persisted status ≠ EQUAL; chunks
    * already EQUAL are not rescanned (their rows never leave the parquet
    * files — the semi-join filter is applied before the checksum scan).
    */
  def resume(src: DataFrame, dst: DataFrame): DataFrame = {
    loadState() match {
      case None => run(src, dst)
      case Some(prev) =>
        val failed = prev.where(col("status") =!= "EQUAL").select("chunk_id")
        if (failed.isEmpty) return prev
        def restrict(df: DataFrame) = DataCompare.restrictToChunks(df, chunkId, failed)
        val fresh = DataCompare.compareChunks(restrict(src), restrict(dst), chunkId, cols)
        persist(Migrate.mergeApply(prev, fresh, Seq("chunk_id"), opCol = None))
    }
  }

  def summary(): Option[DataFrame] = loadState().map(DataCompare.tableSummary)
}
