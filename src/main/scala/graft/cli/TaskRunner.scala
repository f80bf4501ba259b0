package graft.cli

import java.io.FileInputStream
import java.nio.file.{Files, Paths}
import java.util.Properties

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Graft
import graft.operators.{DataCompare, Migrate, StructMigrate}

/** Config-driven task dispatcher — the engine's equivalent of the
  * reference's ctl→master→worker task submission (SURVEY §3.1, CLI verbs
  * `README.md:96-112`): one properties file describes a task; the runner
  * executes the whole flow on Spark and writes report artifacts, so a
  * reference user's `dbms-ctl ... submit` becomes
  * `runMain graft.cli.TaskRunner task.properties`.
  *
  * Modes (`mode=`):
  *  - `data_compare`: src/dst parquet, chunked checksums → diff → repair
  *    SQL; writes chunk_status + diff parquet, repair.sql, summary line.
  *  - `csv_migrate`: parquet → canonicalized CSV export (S5 options).
  *  - `stmt_migrate`: parquet → canonicalized parquet copy; `safeMode=true`
  *    applies as key-based REPLACE INTO onto an existing target (S6).
  *  - `data_scan`: numeric-column profile (A5 classifier counts).
  *  - `struct_migrate`: derive the parquet table's catalog and render
  *    MySQL-compatible CREATE DDL (`ddl.sql`).
  *  - `struct_compare`: structural diff of two parquet schemas →
  *    ADD/DROP/MODIFY ALTER suggestions (`alter.sql`).
  *  - `assess`: per-column inventory (types, null fractions, NDV estimate,
  *    top width screens) — the AWR-ish report as parquet + json.
  *  - `cdc_apply`: apply a change-event parquet (op/key/value columns)
  *    onto a target parquet with MERGE semantics, write the new target.
  *
  * Config keys: src, dst, out, cols (csv), chunkCol, chunkWidth, table,
  * keys (csv), safeMode, events, opCol.
  */
object TaskRunner {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: TaskRunner <task.properties>")
    val props = new Properties()
    val in = new FileInputStream(args(0))
    try props.load(in) finally in.close()
    val conf = props.asScala.toMap

    val spark = Graft.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    try {
      conf("mode") match {
        case "data_compare"   => dataCompare(spark, conf)
        case "csv_migrate"    => csvMigrate(spark, conf)
        case "stmt_migrate"   => stmtMigrate(spark, conf)
        case "data_scan"      => dataScan(spark, conf)
        case "struct_migrate" => structMigrate(spark, conf)
        case "struct_compare" => structCompare(spark, conf)
        case "assess"         => assess(spark, conf)
        case "cdc_apply"      => cdcApply(spark, conf)
        case "sql_migrate"    => sqlMigrate(spark, conf)
        case m => throw new IllegalArgumentException(s"unknown mode $m")
      }
    } finally spark.stop()
  }

  private def out(conf: Map[String, String]): String = {
    val dir = conf("out")
    new java.io.File(dir).mkdirs()
    dir
  }

  def dataCompare(spark: SparkSession, conf: Map[String, String]): Unit = {
    val cols = conf("cols").split(",").map(_.trim).toSeq
    val chunkWidth = conf.getOrElse("chunkWidth", "4096").toLong
    val cid = floor(col(conf("chunkCol")) / chunkWidth).cast("long")
    val src = spark.read.parquet(conf("src")).select(cols.map(col): _*)
    val dst = spark.read.parquet(conf("dst")).select(cols.map(col): _*)
    val dir = out(conf)

    val status = DataCompare.compareChunks(src, dst, cid, cols).cache()
    status.orderBy("chunk_id").write.mode("overwrite").parquet(s"$dir/chunk_status")
    val bad = status.where(col("status") =!= "EQUAL")
    val diff = DataCompare.rowDiff(src, dst, cols, Some(cid), Some(bad)).cache()
    diff.write.mode("overwrite").parquet(s"$dir/diff")
    val repair = DataCompare.repairSql(diff, conf.getOrElse("table", "target"), cols)
    val stmts = repair.orderBy("side", "stmt").select("stmt")
      .collect().map(_.getString(0))
    Files.write(Paths.get(s"$dir/repair.sql"),
      stmts.mkString("", ";\n", if (stmts.isEmpty) "" else ";\n").getBytes("UTF-8"))
    val sm = DataCompare.tableSummary(status).collect().head
    Files.writeString(Paths.get(s"$dir/summary.json"),
      s"""{"chunk_totals":${sm.getAs[Long]("chunk_totals")},""" +
        s""""equal_chunks":${sm.getAs[Long]("equal_chunks")},""" +
        s""""src_rows":${sm.getAs[Long]("src_rows")},"dst_rows":${sm.getAs[Long]("dst_rows")},""" +
        s""""table_status":"${sm.getAs[String]("table_status")}"}""")
  }

  def csvMigrate(spark: SparkSession, conf: Map[String, String]): Unit = {
    val cols = conf("cols").split(",").map(_.trim).toSeq
    val src = spark.read.parquet(conf("src"))
    val canon = src.select(cols.map(n =>
      graft.functions.Canonical.canonical(col(n), src.schema(n).dataType).as(n)): _*)
    Migrate.writeCsv(canon, s"${out(conf)}/csv")
  }

  /** Full-table row copy (the reference's stmt_migrate): canonicalized
    * projection written as parquet; safeMode=true merges onto an existing
    * target by key (REPLACE INTO: `Migrate.mergeApply` with no op column).
    */
  def stmtMigrate(spark: SparkSession, conf: Map[String, String]): Unit = {
    val src = spark.read.parquet(conf("src"))
    val cols = conf.get("cols").map(_.split(",").map(_.trim).toSeq)
      .getOrElse(src.columns.toSeq)
    val canon = src.select(cols.map(n =>
      graft.functions.Canonical.canonical(col(n), src.schema(n).dataType).as(n)): _*)
    val dir = out(conf)
    val result =
      if (conf.get("safeMode").contains("true")) {
        val target = spark.read.parquet(conf("dst"))
        val keys = conf("keys").split(",").map(_.trim).toSeq
        Migrate.mergeApply(target, canon, keys, opCol = None)
      } else canon
    result.write.mode("overwrite").parquet(s"$dir/migrated")
  }

  /** Schema DDL rendering from the parquet table's own catalog. */
  def structMigrate(spark: SparkSession, conf: Map[String, String]): Unit = {
    val table = conf.getOrElse("table", "target")
    val src = spark.read.parquet(conf("src"))
    val cat = StructMigrate.catalogOf(spark, table, src.schema)
      .withColumn("target_type", StructMigrate.mapSparkType(col("data_type")))
      .orderBy("ordinal")
    val cols = cat.select(concat(lit("  `"), col("column_name"), lit("` "),
        col("target_type")).as("ddl"))
      .collect().map(_.getString(0))
    Files.writeString(Paths.get(s"${out(conf)}/ddl.sql"),
      cols.mkString(s"CREATE TABLE `$table` (\n", ",\n", "\n);\n"))
  }

  /** Structural diff of two parquet schemas → ALTER suggestions. */
  def structCompare(spark: SparkSession, conf: Map[String, String]): Unit = {
    val table = conf.getOrElse("table", "target")
    val s = StructMigrate.catalogOf(spark, table, spark.read.parquet(conf("src")).schema)
    val d = StructMigrate.catalogOf(spark, table, spark.read.parquet(conf("dst")).schema)
    val diff = StructMigrate.compareCatalogs(s, d).where(col("diff") =!= "SAME")
      .orderBy("table_name", "column_name")
    val dir = out(conf)
    diff.write.mode("overwrite").parquet(s"$dir/struct_diff")
    val stmts = diff.select("alter_sql").collect().map(_.getString(0)).filter(_.nonEmpty)
    Files.writeString(Paths.get(s"$dir/alter.sql"),
      stmts.mkString("", ";\n", if (stmts.isEmpty) "" else ";\n"))
  }

  /** AWR-ish inventory: per-column type, null fraction (permille), NDV
    * estimate, max rendered width — the assess report (SURVEY A6).
    */
  def assess(spark: SparkSession, conf: Map[String, String]): Unit = {
    val src = spark.read.parquet(conf("src"))
    val total = src.count()
    val profiled = src.schema.fields.toSeq.map { f =>
      val c = col(f.name)
      src.agg(
        count(when(c.isNull, 1)).as("nulls"),
        approx_count_distinct(c, 0.02).as("ndv_est"),
        max(length(c.cast("string"))).as("max_width"))
        .select(lit(f.name).as("column_name"),
          lit(f.dataType.simpleString).as("data_type"),
          lit(total).as("rows"), col("nulls"),
          when(lit(total) > 0, col("nulls") * 1000 / total).otherwise(0L).cast("long").as("null_permille"),
          col("ndv_est"), coalesce(col("max_width"), lit(0)).cast("long").as("max_width"))
    }.reduce(_ unionAll _)
    val dir = out(conf)
    profiled.write.mode("overwrite").parquet(s"$dir/assess")
    val n = profiled.count()
    Files.writeString(Paths.get(s"$dir/assess.json"),
      s"""{"table_rows":$total,"columns":$n}""")
  }

  /** Batch CDC apply: change events (opCol: U/D/I semantics per
    * Migrate.mergeApply) merged onto the target parquet. The apply is
    * lazy, so its jobs run in the write, named after it.
    */
  def cdcApply(spark: SparkSession, conf: Map[String, String]): Unit = {
    val target = spark.read.parquet(conf("dst"))
    val events = spark.read.parquet(conf("events"))
    val keys = conf("keys").split(",").map(_.trim).toSeq
    val applied = Migrate.mergeApply(target, events, keys, Some(conf.getOrElse("opCol", "op")))
    Graft.span("Migrate.mergeApply") {
      applied.write.mode("overwrite").parquet(s"${out(conf)}/applied")
    }
  }

  def dataScan(spark: SparkSession, conf: Map[String, String]): Unit = {
    val cols = conf("cols").split(",").map(_.trim).toSeq
    val src = spark.read.parquet(conf("src"))
    // A5 classifier: integral-in-range vs decimal-point vs unknown
    val profiled = cols.map { n =>
      val c = col(n).cast("double")
      src.agg(
        count(when(c.isNotNull && c === floor(c) &&
          c.between(-9.223372036854775e18, 9.223372036854775e18), 1)).as("bigint_like"),
        count(when(c.isNotNull && c =!= floor(c), 1)).as("decimal_point"),
        count(when(c.isNull, 1)).as("nulls"),
        count(lit(1)).as("total"))
        .withColumn("column_name", lit(n))
    }.reduce(_ unionAll _)
    profiled.select("column_name", "bigint_like", "decimal_point", "nulls", "total")
      .write.mode("overwrite").parquet(s"${out(conf)}/scan_profile")
  }

  /** Custom-SQL migrate (the reference's `sql` verb — user supplies the
    * SELECT, the engine migrates its result,
    * `component/cli/command/sql.go:39`): every parquet table under
    * `srcDir` registers as a temp view, the task's `sql` runs on Spark,
    * and the result lands canonicalized. `safeMode=true` + `keys` merges
    * onto an existing target instead of overwriting — identical REPLACE
    * INTO semantics to stmt_migrate, just with a query source.
    */
  def sqlMigrate(spark: SparkSession, conf: Map[String, String]): Unit = {
    val srcDir = conf("srcDir")
    new java.io.File(srcDir).listFiles().toSeq
      .filter(f => f.getName.endsWith(".parquet"))
      .foreach { f =>
        spark.read.parquet(f.getAbsolutePath)
          .createOrReplaceTempView(f.getName.stripSuffix(".parquet"))
      }
    val res = spark.sql(conf("sql"))
    val dir = out(conf)
    if (conf.get("safeMode").contains("true")) {
      val keys = conf("keys").split(",").map(_.trim).toSeq
      val target = spark.read.parquet(conf("dst"))
      val merged = Migrate.mergeApply(target, res, keys, opCol = None).cache()
      merged.count() // materialize before overwriting the lazily-read target
      merged.write.mode("overwrite").parquet(s"$dir/applied")
    } else {
      res.write.mode("overwrite").parquet(s"$dir/result")
    }
  }
}
