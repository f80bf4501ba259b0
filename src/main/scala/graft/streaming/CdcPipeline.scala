package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Migrate

/** The cdc_consume taskflow as Structured Streaming (SURVEY §2.9/§3.3;
  * `database/taskflow/cdc_consume.go`, `message/tidb/consumer.go`).
  *
  * Shape: Kafka source → ChangeEvent.decode → groupByKey(table) →
  * flatMapGroupsWithState (buffer + exact resolved-ts watermark flush) →
  * foreachBatch(DDL-barrier split + idempotent MERGE apply).
  *
  * The resolved-ts watermark is EXACT (SURVEY §7.3.5): emission is driven
  * by the RESOLVED events themselves — not by Spark's heuristic
  * `withWatermark` delay — matching the reference's guarantee that all
  * DML with ts ≤ resolvedTs has arrived (`consumer.go:129-137`).
  */
object CdcPipeline {

  /** Streaming group state per table. */
  final case class TableState(buffer: Seq[ChangeEvent], checkpointTs: Long)

  /** A flushed DML event with its flush epoch (= the resolved ts that
    * released it) and in-epoch sequence for deterministic downstream order.
    */
  final case class FlushedEvent(event: ChangeEvent, resolvedTs: Long, seq: Int)

  /** Processing rank at equal commitTs: all DML/DDL strictly before
    * RESOLVED/HEARTBEAT. The raw queryType string must not be the
    * tie-break — lexicographically "UPDATE" > "RESOLVED", which would
    * process an equal-ts UPDATE after the checkpoint advanced and silently
    * drop it as obsolete, while INSERT/DELETE (< "RESOLVED") flushed. The
    * reference buffers in arrival order and flushes everything ≤ resolvedTs
    * (consumer.go:617-646), so DML at exactly the resolved ts is included.
    */
  private def kindRank(queryType: String): Int = queryType match {
    case "RESOLVED" | "HEARTBEAT" => 1
    case _                        => 0
  }

  /** Buffer/flush state machine (ST3/ST4/ST6) as one pure step over a
    * batch of events, (buffer, checkpoint, events) → (buffer',
    * checkpoint', flushed):
    *  - DML with commitTs ≤ checkpoint dropped as obsolete/replayed
    *    (`ObsoleteMessages`, consumer.go:446-448);
    *  - DML buffered until a RESOLVED(ts) arrives, then everything ≤ ts
    *    flushes sorted (`event.go:744-757`) and checkpoint advances
    *    (ST7 — Spark's checkpointLocation persists the state).
    * Both state-store processors ([[flushOnResolved]] and
    * StatefulOps.ResolvedFlush) keep only their state I/O around it.
    */
  def resolvedStep(buffer: Seq[ChangeEvent], checkpoint: Long, events: Iterator[ChangeEvent])
      : (Seq[ChangeEvent], Long, Seq[FlushedEvent]) = {
    val group = new EventGroup(buffer)
    var ckpt = checkpoint
    val out = Seq.newBuilder[FlushedEvent]
    events.toSeq.sortBy(e => (e.commitTs, kindRank(e.queryType), e.queryType, e.key)).foreach { e =>
      e.queryType match {
        case "RESOLVED" | "HEARTBEAT" => // HEARTBEAT advances checkpoint w/o data (ST10)
          if (e.commitTs > ckpt) {
            val flushed = group.resolvedFlush(e.commitTs)
            out ++= flushed.zipWithIndex.map { case (f, i) => FlushedEvent(f, e.commitTs, i) }
            ckpt = e.commitTs
          }
        case _ if e.isDml || e.queryType == "DDL" =>
          if (e.commitTs > ckpt) group.append(e) // else obsolete: drop
        case _ => ()
      }
    }
    (group.buffered, ckpt, out.result())
  }

  /** [[resolvedStep]] on GroupState: the per-table state is one blob. */
  def flushOnResolved(
      table: String,
      events: Iterator[ChangeEvent],
      state: GroupState[TableState]): Iterator[FlushedEvent] = {
    val st0 = state.getOption.getOrElse(TableState(Nil, Long.MinValue))
    val (buffer, checkpoint, flushed) = resolvedStep(st0.buffer, st0.checkpointTs, events)
    state.update(TableState(buffer, checkpoint))
    flushed.iterator
  }

  /** Wire the state machine over a decoded event stream. */
  def resolvedFlushStream(spark: SparkSession, events: Dataset[ChangeEvent]): Dataset[FlushedEvent] = {
    import spark.implicits._
    events.groupByKey(_.tableName)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(flushOnResolved)
  }

  /** DDL-barrier batch split (ST5, `consumer.go:152-266`): order a
    * micro-batch into phases — all DML ≤ first DDL ts, then that DDL,
    * then the rest, recursively. A DDL whose ts regresses below an
    * already-applied DDL is a hard error (`consumer.go:176-193`).
    */
  final case class Phase(ddl: Option[ChangeEvent], dml: Seq[ChangeEvent])

  def splitAtDdl(batch: Seq[ChangeEvent], appliedDdlTs: Long = Long.MinValue): Seq[Phase] = {
    val sorted = batch.sortBy(e => (e.commitTs, e.queryType, e.key))
    val ddls = sorted.filter(_.queryType == "DDL")
    ddls.headOption.filter(_.commitTs < appliedDdlTs).foreach { d =>
      throw new IllegalStateException(
        s"DDL commitTs regression: ${d.commitTs} < applied $appliedDdlTs (${d.ddlQuery})")
    }
    ddls match {
      case Nil => Seq(Phase(None, sorted.filter(_.isDml)))
      case d +: _ =>
        val (pre, post) = sorted.partition(_.commitTs <= d.commitTs)
        Phase(Some(d), pre.filter(_.isDml)) +:
          splitAtDdl(post, d.commitTs)
    }
  }

  /** Idempotent keyed apply (ST8/J3, `consumer.go:692-792`): last event
    * per key wins inside the batch (UPDATE ≡ DELETE+INSERT), then the
    * batch goes through `Migrate.mergeApply`: matched keys are replaced
    * (or removed on DELETE), unmatched target rows survive. Replay-safe:
    * applying the same batch twice is a no-op the second time.
    */
  def applyBatch(spark: SparkSession, target: DataFrame, batch: Seq[ChangeEvent],
      keyCol: String, valueCols: Seq[String]): DataFrame = {
    import spark.implicits._
    val dmlBatch = batch.filter(_.isDml) // DDL/RESOLVED carry no row keys
    if (dmlBatch.isEmpty) return target
    // last-wins per key, deterministic by (commitTs, seq-in-batch)
    val lastPerKey = dmlBatch.zipWithIndex
      .groupBy { case (e, _) => e.key }
      .map { case (_, evs) => evs.maxBy { case (e, i) => (e.commitTs, i.toLong) }._1 }
      .toSeq
    val ops = lastPerKey
      .map(e => (e.uniqKeys(keyCol), if (e.queryType == "DELETE") "D" else "U",
        valueCols.map(c => e.columns.getOrElse(c, null))))
      .toDF(keyCol, "__op", "__vals")
      .select(col(keyCol) +: col("__op") +: valueCols.zipWithIndex.map { case (c, i) =>
        col("__vals").getItem(i).as(c) }: _*)
    Migrate.mergeApply(target, ops, Seq(keyCol), Some("__op"))
  }
}
