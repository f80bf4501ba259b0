package graft.sources

import java.util.Properties

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.ChunkPlanner.Chunk
import graft.operators.Migrate

/** Live JDBC federated read/write — the reference's actual runtime target
  * (it migrates/compares live Oracle/MySQL/PG/TiDB tables; chunked reads:
  * `database/oracle/data_migrate.go:350-384`, batched writes + safe mode:
  * `database/processor/stmt_migrate_row.go:206-303`).
  *
  * Spark-first re-expression: the reference's chunk×goroutine fetch pool
  * IS `spark.read.jdbc(url, table, predicates, props)` — one partition per
  * chunk predicate, fetched by executors in parallel; the batched INSERT
  * loop IS `df.write.option("batchsize", …).jdbc(...)` (DataFrameWriter
  * issues addBatch/executeBatch per partition); REPLACE-INTO safe mode is
  * the engine's one keyed apply, [[Migrate.mergeApply]] with no op column
  * (anti-join + append), applied through a read-modify-overwrite cycle
  * when the target lacks native upsert.
  */
object Jdbc {

  /** Render a [[Chunk]] as a WHERE fragment for `spark.read.jdbc`'s
    * `predicates` — the exact contract of the reference's chunk ranges
    * (`utils/structure/chunk.go:77-677`): first chunk lower-unbounded,
    * last upper-unbounded, inner chunks [lower, upper). The strings are
    * dialect-neutral comparisons, so they push down to any JDBC source.
    */
  def predicateSql(c: Chunk, key: String): String = (c.lower, c.upper) match {
    case (None, None)       => "1=1"
    case (None, Some(u))    => s"$key < $u"
    case (Some(l), None)    => s"$key >= $l"
    case (Some(l), Some(u)) => s"$key >= $l AND $key < $u"
  }

  /** Multi-column lexicographic range as a WHERE fragment — the exact
    * `Range.ToString` contract of `utils/structure/chunk.go:98-190`:
    * key > lower ⇔ (k1>l1) ∨ (k1=l1 ∧ k2>l2) ∨ …, chunk =
    * lexGreaterEq(lower) ∧ ¬lexGreaterEq(upper). Values must already be
    * SQL-rendered literals (quoted strings / numerics) by the caller.
    */
  def lexPredicateSql(keys: Seq[String], lower: Seq[String],
      upper: Seq[String]): String = {
    require(keys.nonEmpty && keys.length == lower.length && keys.length == upper.length)
    def ge(bounds: Seq[String]): String = {
      val strict = keys.indices.map { i =>
        val prefix = (0 until i).map(j => s"${keys(j)} = ${bounds(j)}")
        (prefix :+ s"${keys(i)} > ${bounds(i)}").mkString("(", " AND ", ")")
      }
      val eq = keys.indices.map(i => s"${keys(i)} = ${bounds(i)}")
        .mkString("(", " AND ", ")")
      (strict :+ eq).mkString("(", " OR ", ")")
    }
    s"${ge(lower)} AND NOT ${ge(upper)}"
  }

  /** Oracle-side collated key text — the column half of the reference's
    * NLSSORT range predicates (`utils/structure/chunk.go:139-144`):
    * `NLSSORT(CONVERT("col",'dest','from'),'NLS_SORT=x')`, the CONVERT
    * hop present only when the two ends disagree on charset. Feed the
    * result into [[lexPredicateSql]] as the key text, paired with
    * [[nlssortBound]] bound text, to render the reference's full
    * collation-aware WHERE fragment against a live Oracle (the Spark-side
    * twin is `ChunkPlanner.collatedPlan`'s collate() grouping).
    */
  def nlssortKey(column: String, collation: String,
      convertCharsets: Option[(String, String)] = None): String = {
    val base = convertCharsets match {
      case Some((dest, from)) => s"""CONVERT("$column",'$dest','$from')"""
      case None               => s""""$column""""
    }
    s"NLSSORT($base,'NLS_SORT=$collation')"
  }

  /** Oracle-side collated bound text (`chunk.go:139-144` bind forms):
    * DATE bounds wrap in `TO_DATE(v,'YYYY-MM-DD HH24:MI:SS')`, TIMESTAMP
    * in `TO_TIMESTAMP(v,'YYYY-MM-DD HH24:MI:SS.FF<p>')`, strings pass
    * through — all under the same `NLS_SORT` as the key side, which is
    * the invariant that keeps chunk bounds collation-consistent.
    */
  def nlssortBound(value: String, collation: String, kind: String = "string",
      datetimePrecision: Int = 6): String = {
    val bound = kind match {
      case "date"      => s"TO_DATE($value,'YYYY-MM-DD HH24:MI:SS')"
      case "timestamp" => s"TO_TIMESTAMP($value,'YYYY-MM-DD HH24:MI:SS.FF$datetimePrecision')"
      case _           => value
    }
    s"NLSSORT($bound,'NLS_SORT=$collation')"
  }

  /** Chunk-parallel federated read: one Spark partition per chunk
    * predicate, each executor issuing `SELECT … WHERE <predicate>` —
    * the reference's parallel chunk fetch without its hand-rolled
    * connection pool. `fetchSize` maps to the driver's row-stream
    * batch (`database/oracle/data_migrate.go:361` sets the same).
    */
  def readChunked(spark: SparkSession, url: String, table: String, key: String,
      chunks: Seq[Chunk], props: Properties = new Properties(),
      fetchSize: Int = 1000): DataFrame = {
    props.setProperty("fetchsize", fetchSize.toString)
    spark.read.jdbc(url, table, chunks.map(predicateSql(_, key)).toArray, props)
  }

  /** Batched INSERT sink (S6): per-partition prepared-statement batches —
    * `batchsize` is the executeBatch flush threshold, the reference's
    * `insert-batch-size` knob.
    */
  def writeBatched(df: DataFrame, url: String, table: String,
      props: Properties = new Properties(), batchSize: Int = 500,
      mode: String = "append"): Unit =
    df.write.mode(mode)
      .option("batchsize", batchSize.toString)
      .jdbc(url, table, props)

  /** Safe-mode apply against a JDBC target without native REPLACE INTO:
    * read the live table, anti-join out the batch's keys and append the
    * batch ([[Migrate.mergeApply]], `opCol = None`), land the merged
    * relation in a STAGING table, then swap the contents in-database (`DELETE FROM target; INSERT INTO target
    * SELECT * FROM stage`) over one driver connection — the merged rows
    * never pass through the driver, so the shape holds at any table
    * size. Idempotent under replay — the second application of the same
    * batch is a no-op (asserted in JdbcRoundTripSpec), matching
    * `stmt_migrate_row.go:206-303`'s replace semantics.
    */
  def safeModeWrite(spark: SparkSession, url: String, table: String,
      batch: DataFrame, keys: Seq[String],
      props: Properties = new Properties()): Unit = {
    val stage = s"${table}_STAGE"
    val merged = Migrate.mergeApply(spark.read.jdbc(url, table, props), batch, keys, opCol = None)
    merged.write.mode("overwrite").jdbc(url, stage, props)
    swapFromStage(url, table, stage, props)
  }

  /** The DELETE/INSERT swap as ONE transaction: a crash between the two
    * statements must not leave the live table empty, and readers at
    * READ_COMMITTED never observe the empty-table window. Rolls back and
    * rethrows on failure. (The reference reaches the same atomicity with
    * per-row REPLACE INTO inside a txn, stmt_migrate_row.go:206-303; a
    * keyed MERGE is the cheaper form on dialects that have it — see
    * [[safeModeMerge]]; this whole-table rewrite is the
    * lowest-common-denominator fallback.)
    */
  private[graft] def swapFromStage(url: String, table: String, stage: String,
      props: Properties): Unit = {
    // identifiers are interpolated into DDL — refuse anything that could
    // smuggle statement text
    Seq(table, stage).foreach { id =>
      require(id.matches("[A-Za-z0-9_.]+"), s"unsafe table identifier: $id")
    }
    execInTxn(url, props)(Seq(
      s"DELETE FROM $table",
      s"INSERT INTO $table SELECT * FROM $stage"))
  }

  /** Safe-mode apply via the dialect's native set-based MERGE
    * ([[SqlDialects.mergeTableSql]]): the batch lands in a STAGE table
    * executor-parallel (`df.write.jdbc`), then ONE `MERGE INTO target
    * USING stage` applies it transactionally. Preferred over
    * [[safeModeWrite]] on merge dialects — the whole-table read-modify-
    * rewrite disappears; cost follows |batch|, not |table|. Idempotent
    * under replay like every safe-mode form (stmt_migrate_row.go:206-303).
    */
  def safeModeMerge(spark: SparkSession, url: String, schema: String,
      table: String, batch: DataFrame, keys: Seq[String],
      dialect: SqlDialect = SqlDialects.derby,
      props: Properties = new Properties()): Unit = {
    // gate identifiers BEFORE the stage write (the swapFromStage
    // contract) — both land verbatim in statement text below
    Seq(schema, table).foreach { id =>
      require(id.matches("[A-Za-z0-9_]+"), s"unsafe identifier: $id")
    }
    val stage = s"${table}_STAGE"
    // the stage must land in the SAME schema the merge reads it from;
    // unqualified it would land in the connection's default schema
    batch.write.mode("overwrite").jdbc(url, s"$schema.$stage", props)
    execInTxn(url, props)(Seq(
      SqlDialects.mergeTableSql(dialect, schema, table, stage,
        batch.columns.toSeq, keys, sourceSchema = Some(schema))))
  }

  /** Live bind-var batch execution of a prepared statement — the
    * reference's addBatch/executeBatch apply loop
    * (`stmt_migrate_row.go:206-303`): `sql` is a
    * [[SqlDialects.prepareInsertSql]]/[[SqlDialects.prepareUpsertSql]]
    * twin, `rows` bind in groups of `rowsPerStmt` (the multi-row VALUES
    * arm repeats the `(?,…)` group that many times), and the batch
    * flushes every `batchSize` statements. One transaction: all-or-
    * nothing like every safe-mode form. Returns the number of rows the
    * driver reported applied (SUCCESS_NO_INFO entries count as their
    * group's rows — Derby reports per-statement counts).
    */
  def writePrepared(url: String, props: Properties, sql: String,
      rows: Seq[Seq[Any]], rowsPerStmt: Int = 1, batchSize: Int = 500): Long = {
    require(rowsPerStmt >= 1 && rows.length % rowsPerStmt == 0,
      s"rows (${rows.length}) must group evenly into $rowsPerStmt-row statements" +
        " — render the tail with its own statement (the reference's partial batch)")
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      conn.setAutoCommit(false)
      val st = conn.prepareStatement(sql)
      try {
        var applied = 0L
        var pending = 0
        def flush(): Unit = if (pending > 0) {
          applied += st.executeBatch().map {
            case java.sql.Statement.SUCCESS_NO_INFO => rowsPerStmt.toLong
            // Derby raises BatchUpdateException on failure, but the JDBC
            // contract also allows a driver to RETURN this marker — summed
            // as -3 it would silently corrupt the applied count
            case java.sql.Statement.EXECUTE_FAILED =>
              throw new java.sql.SQLException(
                "batch statement reported EXECUTE_FAILED without raising")
            case n => n.toLong
          }.sum
          pending = 0
        }
        rows.grouped(rowsPerStmt).foreach { group =>
          group.flatten.zipWithIndex.foreach {
            // typed null: Derby refuses setObject(_, null)/Types.NULL —
            // ask the statement's parameter metadata for the slot's type
            case (null, i) =>
              st.setNull(i + 1, st.getParameterMetaData.getParameterType(i + 1))
            case (v, i) => st.setObject(i + 1, v)
          }
          st.addBatch()
          pending += 1
          if (pending >= batchSize) flush()
        }
        flush()
        conn.commit()
        applied
      } catch {
        case e: Throwable =>
          try conn.rollback() catch { case _: java.sql.SQLException => () }
          throw e
      } finally st.close()
    } finally conn.close()
  }

  /** Run `sqls` on one driver connection as a single transaction; roll
    * back and rethrow on failure.
    */
  private[graft] def execInTxn(url: String, props: Properties)(
      sqls: Seq[String]): Unit = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      try {
        sqls.foreach(st.executeUpdate)
        conn.commit()
      } catch {
        case e: Throwable =>
          try conn.rollback() catch { case _: java.sql.SQLException => () }
          throw e
      } finally st.close()
    } finally conn.close()
  }
}
