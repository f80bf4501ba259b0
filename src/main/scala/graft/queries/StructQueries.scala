package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{QueryDef, Tables}
import graft.operators.{Migrate, StructMigrate}

/** Struct migrate/compare, data-scan profiling, assess aggregations, and
  * migrate sinks (SURVEY §2.1 S5/S6, §2.4 A5/A6, §2.7 U2).
  */
object StructQueries {

  /** Oracle-ish source catalog fixture — one row per column, covering the
    * NUMBER ladder, character, LOB, temporal and binary rules.
    */
  private val srcCatalogRows: Seq[(String, String, String, Option[Long], Option[Long])] = Seq(
    ("t1", "amount",  "NUMBER",       Some(12L), Some(2L)),
    ("t1", "bf",      "BINARY_FLOAT", None,      None),
    ("t1", "big",     "NUMBER",       Some(24L), Some(0L)),
    ("t1", "code",    "CHAR",         Some(300L), None),
    ("t1", "created", "DATE",         None,      None),
    ("t1", "doc",     "CLOB",         None,      None),
    ("t1", "flag",    "CHAR",         Some(1L),  None),
    ("t1", "free",    "NUMBER",       None,      None),
    ("t1", "id",      "NUMBER",       Some(10L), Some(0L)),
    ("t1", "img",     "BLOB",         None,      None),
    ("t1", "med",     "NUMBER",       Some(6L),  Some(0L)),
    ("t1", "name",    "VARCHAR2",     Some(50L), None),
    ("t1", "negs",    "NUMBER",       Some(2L),  Some(-2L)),  // eff p 4 → SMALLINT
    ("t1", "negw",    "NUMBER",       Some(38L), Some(-84L)), // eff p 122 → DECIMAL(65,0)
    ("t1", "pmax",    "NUMBER",       Some(38L), Some(10L)),  // p=38 widens → DECIMAL(65,10)
    ("t1", "subu",    "NUMBER",       Some(3L),  Some(5L)),   // s>p widens → DECIMAL(65,5)
    ("t1", "ratio",   "FLOAT",        None,      None),
    ("t1", "rawc",    "RAW",          Some(16L), None),
    ("t1", "tiny",    "NUMBER",       Some(2L),  Some(0L)),
    ("t1", "ts6",     "TIMESTAMP(6)", None,      Some(6L)),
    ("t1", "ts9",     "TIMESTAMP(9)", None,      Some(9L)),
    ("t1", "xml",     "XMLTYPE",      None,      None))

  private def sqlValues(rows: Seq[(String, String, String, Option[Long], Option[Long])]): String =
    rows.map { case (t, c, d, p, s) =>
      val ps = p.map(_.toString).getOrElse("NULL")
      val ss = s.map(_.toString).getOrElse("NULL")
      s"('$t','$c','$d',$ps,$ss)"
    }.mkString(",\n  ")

  private def catalogDf(s: SparkSession,
      rows: Seq[(String, String, String, Option[Long], Option[Long])]): DataFrame = {
    import s.implicits._
    rows.toDF("table_name", "column_name", "data_type", "data_precision", "data_scale")
  }

  /** SQL twin of StructMigrate.mapOracleType. */
  private val mapTypeSql =
    """CASE WHEN data_type = 'NUMBER' AND data_precision IS NULL THEN 'DECIMAL(65,30)'
      |     WHEN data_type = 'NUMBER' AND coalesce(data_scale, 0) > 0
      |          AND (coalesce(data_scale, 0) >= data_precision OR data_precision = 38)
      |          THEN 'DECIMAL(65,' || least(coalesce(data_scale,0), 30) || ')'
      |     WHEN data_type = 'NUMBER' AND coalesce(data_scale, 0) > 0
      |          THEN 'DECIMAL(' || data_precision || ',' || least(coalesce(data_scale,0), 30) || ')'
      |     WHEN data_type = 'NUMBER' AND data_precision - coalesce(data_scale, 0) < 3 THEN 'TINYINT'
      |     WHEN data_type = 'NUMBER' AND data_precision - coalesce(data_scale, 0) < 5 THEN 'SMALLINT'
      |     WHEN data_type = 'NUMBER' AND data_precision - coalesce(data_scale, 0) < 9 THEN 'INT'
      |     WHEN data_type = 'NUMBER' AND data_precision - coalesce(data_scale, 0) < 19 THEN 'BIGINT'
      |     WHEN data_type = 'NUMBER' AND data_precision - coalesce(data_scale, 0) <= 38
      |          THEN 'DECIMAL(' || (data_precision - coalesce(data_scale, 0)) || ',0)'
      |     WHEN data_type = 'NUMBER' THEN 'DECIMAL(65,0)'
      |     WHEN data_type IN ('VARCHAR2','NVARCHAR2') THEN 'VARCHAR(' || data_precision || ')'
      |     WHEN data_type = 'CHAR' AND data_precision > 255 THEN 'VARCHAR(' || data_precision || ')'
      |     WHEN data_type = 'CHAR' THEN 'CHAR(' || data_precision || ')'
      |     WHEN data_type IN ('CLOB','NCLOB','LONG') THEN 'LONGTEXT'
      |     WHEN data_type IN ('BLOB','LONG RAW') THEN 'LONGBLOB'
      |     WHEN data_type = 'RAW' THEN 'VARBINARY(' || data_precision || ')'
      |     WHEN data_type = 'DATE' THEN 'DATETIME'
      |     WHEN data_type LIKE 'TIMESTAMP%' THEN 'DATETIME(' || least(coalesce(data_scale,0), 6) || ')'
      |     WHEN data_type = 'BINARY_FLOAT' THEN 'FLOAT'
      |     WHEN data_type IN ('FLOAT','BINARY_DOUBLE') THEN 'DOUBLE'
      |     ELSE 'TEXT' END""".stripMargin

  val all: Seq[QueryDef] = Seq(

    // struct_migrate: Oracle→MySQL-compat type translation + DDL render
    // (database/mapping/oracle.go:64-160 rules as data-parallel exprs).
    QueryDef.sql(
      "q40_struct_migrate",
      s"""WITH cat(table_name, column_name, data_type, data_precision, data_scale) AS (VALUES
         |  ${sqlValues(srcCatalogRows)})
         |SELECT table_name, column_name, data_type,
         |  $mapTypeSql AS target_type,
         |  '`' || column_name || '` ' || $mapTypeSql AS ddl
         |FROM cat ORDER BY table_name, column_name""".stripMargin) { (s, dir) =>
      StructMigrate.migrate(catalogDf(s, srcCatalogRows))
        .select("table_name", "column_name", "data_type", "target_type", "ddl")
        .orderBy("table_name", "column_name")
    },

    // struct_compare: catalog diff → ADDED/DROPPED/TYPE_CHANGED + ALTER
    // text (struct_compare_table.go:45-1035 classes).
    QueryDef.sql(
      "q41_struct_compare", {
        val dstRows = srcCatalogRows
          .filterNot(_._2 == "ratio")                                   // dst lost a column
          .map { case r @ (t, c, _, p, sc) =>
            if (c == "amount") (t, c, "VARCHAR2", p, sc) else r }       // dst changed a type
          .:+(("t1", "extra", "VARCHAR2", Some(10L), None: Option[Long])) // dst gained a column
        s"""WITH src(table_name, column_name, data_type, data_precision, data_scale) AS (VALUES
           |  ${sqlValues(srcCatalogRows)}),
           |dst(table_name, column_name, data_type, data_precision, data_scale) AS (VALUES
           |  ${sqlValues(dstRows)})
           |SELECT coalesce(s.table_name, d.table_name) AS table_name,
           |  coalesce(s.column_name, d.column_name) AS column_name,
           |  s.data_type AS src_type, d.data_type AS dst_type,
           |  CASE WHEN d.column_name IS NULL THEN 'ADDED'
           |       WHEN s.column_name IS NULL THEN 'DROPPED'
           |       WHEN s.data_type <> d.data_type THEN 'TYPE_CHANGED'
           |       ELSE 'SAME' END AS diff,
           |  CASE WHEN d.column_name IS NULL THEN
           |         'ALTER TABLE ' || s.table_name || ' ADD COLUMN ' || s.column_name || ' ' || s.data_type
           |       WHEN s.column_name IS NULL THEN
           |         'ALTER TABLE ' || d.table_name || ' DROP COLUMN ' || d.column_name
           |       WHEN s.data_type <> d.data_type THEN
           |         'ALTER TABLE ' || s.table_name || ' MODIFY ' || s.column_name || ' ' || s.data_type
           |       ELSE '' END AS alter_sql
           |FROM src s FULL OUTER JOIN dst d
           |  ON s.table_name = d.table_name AND s.column_name = d.column_name
           |ORDER BY table_name, column_name""".stripMargin
      }) { (s, dir) =>
      val dstRows = srcCatalogRows
        .filterNot(_._2 == "ratio")
        .map { case r @ (t, c, _, p, sc) =>
          if (c == "amount") (t, c, "VARCHAR2", p, sc) else r }
        .:+(("t1", "extra", "VARCHAR2", Some(10L), None: Option[Long]))
      StructMigrate.compareCatalogs(catalogDf(s, srcCatalogRows), catalogDf(s, dstRows))
        .orderBy("table_name", "column_name")
    },

    // data_scan: NUMBER-class profiling over a deterministic modulo
    // "sample" (S3 + A5's classifier, data_scan_rule.go:150-168).
    QueryDef.sql(
      "q42_data_scan",
      """WITH sample AS (SELECT * FROM lineitem WHERE l_orderkey % 10 = 0),
        |u AS (SELECT 'l_quantity' AS col_name, l_quantity AS v FROM sample
        |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM sample
        |  UNION ALL SELECT 'l_discount', l_discount FROM sample)
        |SELECT col_name,
        |  CASE WHEN v IS NULL THEN 'NULL'
        |       WHEN v = floor(v) AND abs(v) <= 9.0e18 THEN 'BIGINT'
        |       WHEN v = floor(v) THEN 'DECIMAL_INT'
        |       ELSE 'DECIMAL_POINT' END AS category,
        |  COUNT(*) AS n
        |FROM u GROUP BY col_name, category ORDER BY col_name, category""".stripMargin) { (s, dir) =>
      Tables(s, dir).lineitem
        .where(col("l_orderkey") % 10 === 0)
        .selectExpr("stack(3, 'l_quantity', l_quantity, 'l_extendedprice', l_extendedprice, " +
          "'l_discount', l_discount) AS (col_name, v)")
        .withColumn("category",
          when(col("v").isNull, "NULL")
            .when(col("v") === floor(col("v")) && abs(col("v")) <= lit(9.0e18), "BIGINT")
            .when(col("v") === floor(col("v")), "DECIMAL_INT")
            .otherwise("DECIMAL_POINT"))
        .groupBy("col_name", "category").agg(count(lit(1)).as("n"))
        .orderBy("col_name", "category")
    },

    // assess: TOP-N tables by rows across the whole corpus (A6/T4,
    // database/assess_migrate.go:32-35).
    QueryDef.sql(
      "q43_assess_tables", {
        val tables = Seq("lineitem", "orders", "customer", "part", "supplier",
          "nation", "region", "events", "documents", "embeddings")
        tables.map(t => s"SELECT '$t' AS tbl, COUNT(*) AS n_rows FROM $t")
          .mkString("SELECT * FROM (\n", "\nUNION ALL ", ")\nORDER BY n_rows DESC, tbl")
      }) { (s, dir) =>
      val t = Tables(s, dir)
      Seq(
        "lineitem" -> t.lineitem, "orders" -> t.orders, "customer" -> t.customer,
        "part" -> t.part, "supplier" -> t.supplier, "nation" -> t.nation,
        "region" -> t.region, "events" -> t.events, "documents" -> t.documents,
        "embeddings" -> t.embeddings)
        .map { case (n, df) => df.agg(count(lit(1)).as("n_rows")).select(lit(n).as("tbl"), col("n_rows")) }
        .reduce(_ unionAll _)
        .orderBy(col("n_rows").desc, col("tbl"))
    },

    // assess: per-group screens (identifier-length / distinct-type /
    // size-sum checks — the over-limit screens of assess_migrate.go).
    QueryDef.sql(
      "q44_assess_screens",
      """SELECT p_brand, COUNT(*) AS n_parts,
        |  CAST(SUM(CASE WHEN length(p_name) > 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_long_names,
        |  CAST(SUM(CAST(FLOOR(p_retailprice * 100.0) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |  COUNT(DISTINCT p_type) AS n_types
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin) { (s, dir) =>
      Tables(s, dir).part
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_parts"),
          sum(when(length(col("p_name")) > 15, 1L).otherwise(0L)).as("n_long_names"),
          sum(floor(col("p_retailprice") * 100.0).cast("long")).as("sum_price_cents"),
          countDistinct("p_type").as("n_types"))
        .orderBy("p_brand")
    },

    // csv_migrate round trip (S5, FIXTURES §F7): write with the reference
    // option matrix, read back with schema — values must survive exactly.
    QueryDef.sql(
      "q45_csv_roundtrip",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag,
        |  strftime(l_shipdate, '%Y-%m-%d %H:%M:%S.%f') AS l_shipdate_str
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      val cols = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_returnflag", "l_shipdate")
      val src  = Tables(s, dir).lineitem.select(cols.map(col): _*)
      val tmp  = s"${System.getProperty("java.io.tmpdir")}/graft_csv_roundtrip"
      Migrate.writeCsv(src, tmp)
      Migrate.readCsv(s, tmp, src.schema)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"),
          date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("l_shipdate_str"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // JSON sink/source round trip — second file format for the migrate
    // family (schema-on-read with explicit timestamp formats).
    QueryDef.sql(
      "q47_json_roundtrip",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
        |  strftime(l_shipdate, '%Y-%m-%d %H:%M:%S.%f') AS l_shipdate_str
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      val cols = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate")
      val src  = Tables(s, dir).lineitem.select(cols.map(col): _*)
      val tmp  = s"${System.getProperty("java.io.tmpdir")}/graft_json_roundtrip"
      val fmt  = "yyyy-MM-dd HH:mm:ss.SSSSSS"
      src.write.mode("overwrite")
        .option("timestampFormat", fmt).option("timestampNTZFormat", fmt)
        .json(tmp)
      s.read.schema(src.schema)
        .option("timestampFormat", fmt).option("timestampNTZFormat", fmt)
        .json(tmp)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_returnflag"),
          date_format(col("l_shipdate"), fmt).as("l_shipdate_str"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // ORC sink/source round trip — third columnar format for the migrate
    // family (ORC keeps native timestamp types, no format options needed).
    QueryDef.sql(
      "q52_orc_roundtrip",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
        |  strftime(l_shipdate, '%Y-%m-%d %H:%M:%S.%f') AS l_shipdate_str
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      val cols = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate")
      val src  = Tables(s, dir).lineitem.select(cols.map(col): _*)
      val tmp  = s"${System.getProperty("java.io.tmpdir")}/graft_orc_roundtrip"
      src.write.mode("overwrite").orc(tmp)
      s.read.schema(src.schema).orc(tmp)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_returnflag"),
          date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("l_shipdate_str"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // safe-mode REPLACE INTO (S6): key-based delete+insert, applied TWICE
    // — idempotence means the double-apply equals the oracle's single one.
    QueryDef.sql(
      "q46_safe_mode",
      """WITH batch AS (
        |  SELECT o_orderkey, o_custkey, 'R' AS o_orderstatus, o_totalprice + 1 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 100 = 0),
        |tgt AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
        |applied AS (
        |  SELECT t.* FROM tgt t LEFT JOIN batch b ON t.o_orderkey = b.o_orderkey
        |  WHERE b.o_orderkey IS NULL
        |  UNION ALL SELECT * FROM batch)
        |SELECT * FROM applied ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val o = Tables(s, dir).orders
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val batch = o.where(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          lit("R").as("o_orderstatus"), (col("o_totalprice") + 1).as("o_totalprice"))
      val once  = Migrate.mergeApply(o, batch, Seq("o_orderkey"), opCol = None)
      val twice = Migrate.mergeApply(once, batch, Seq("o_orderkey"), opCol = None)
      twice.orderBy("o_orderkey")
    },

    // struct_migrate, PostgreSQL source dialect: the PG catalog ladder
    // (int2/int4/int8, numeric caps, bpchar/varchar, bytea, timestamptz,
    // uuid, jsonb) translated to MySQL-compatible target types — the
    // reference's third mapping table as a Column expression.
    QueryDef.sql(
      "q110_struct_pg",
      """WITH cat(table_name, column_name, data_type, data_precision, data_scale) AS (VALUES
        |  ('t2','id','int8',NULL,NULL), ('t2','qty','int4',NULL,NULL),
        |  ('t2','tiny','int2',NULL,NULL), ('t2','amount','numeric',14,4),
        |  ('t2','free','numeric',NULL,NULL), ('t2','name','varchar',80,NULL),
        |  ('t2','note','varchar',NULL,NULL), ('t2','huge','varchar',20000,NULL),
        |  ('t2','mega','varchar',9999999,NULL), ('t2','anyc','bpchar',NULL,NULL),
        |  ('t2','code','bpchar',3,NULL), ('t2','bigchar','bpchar',300,NULL),
        |  ('t2','hugec','bpchar',20000,NULL),
        |  ('t2','doc','text',NULL,NULL), ('t2','blob','bytea',NULL,NULL),
        |  ('t2','ratio','float4',NULL,NULL), ('t2','precise','float8',NULL,NULL),
        |  ('t2','ok','bool',NULL,NULL), ('t2','d','date',NULL,NULL),
        |  ('t2','ts','timestamptz',NULL,9), ('t2','uid','uuid',NULL,NULL),
        |  ('t2','payload','jsonb',NULL,NULL), ('t2','weird','tsvector',NULL,NULL))
        |SELECT table_name, column_name, data_type,
        |  CASE WHEN data_type IN ('int2','smallint') THEN 'SMALLINT'
        |       WHEN data_type IN ('int4','integer') THEN 'INT'
        |       WHEN data_type IN ('int8','bigint') THEN 'BIGINT'
        |       WHEN data_type IN ('numeric','decimal') AND data_precision IS NULL THEN 'DECIMAL(65,30)'
        |       WHEN data_type IN ('numeric','decimal')
        |            THEN 'DECIMAL(' || least(data_precision, 65) || ',' || least(coalesce(data_scale,0), 30) || ')'
        |       WHEN data_type IN ('varchar','character varying') AND data_precision IS NULL THEN 'LONGTEXT'
        |       WHEN data_type IN ('varchar','character varying') AND data_precision <= 16382 THEN 'VARCHAR(' || data_precision || ')'
        |       WHEN data_type IN ('varchar','character varying') AND data_precision <= 4194303 THEN 'MEDIUMTEXT'
        |       WHEN data_type IN ('varchar','character varying') THEN 'LONGTEXT'
        |       WHEN data_type IN ('bpchar','character') AND data_precision IS NULL THEN 'LONGTEXT'
        |       WHEN data_type IN ('bpchar','character') AND data_precision <= 255 THEN 'CHAR(' || data_precision || ')'
        |       WHEN data_type IN ('bpchar','character') AND data_precision <= 16382 THEN 'VARCHAR(' || data_precision || ')'
        |       WHEN data_type IN ('bpchar','character') THEN 'LONGTEXT'
        |       WHEN data_type = 'text' THEN 'LONGTEXT'
        |       WHEN data_type = 'bytea' THEN 'LONGBLOB'
        |       WHEN data_type IN ('float4','real') THEN 'FLOAT'
        |       WHEN data_type IN ('float8','double precision') THEN 'DOUBLE'
        |       WHEN data_type IN ('bool','boolean') THEN 'TINYINT(1)'
        |       WHEN data_type = 'date' THEN 'DATE'
        |       WHEN data_type LIKE 'timestamp%' THEN 'DATETIME(' || least(coalesce(data_scale,0), 6) || ')'
        |       WHEN data_type = 'uuid' THEN 'CHAR(36)'
        |       WHEN data_type IN ('json','jsonb') THEN 'JSON'
        |       ELSE 'TEXT' END AS target_type
        |FROM cat ORDER BY table_name, column_name""".stripMargin) { (s, dir) =>
      import s.implicits._
      val cat = Seq(
        ("t2", "id", "int8", None, None), ("t2", "qty", "int4", None, None),
        ("t2", "tiny", "int2", None, None), ("t2", "amount", "numeric", Some(14L), Some(4L)),
        ("t2", "free", "numeric", None, None), ("t2", "name", "varchar", Some(80L), None),
        ("t2", "note", "varchar", None, None), ("t2", "huge", "varchar", Some(20000L), None),
        ("t2", "mega", "varchar", Some(9999999L), None), ("t2", "anyc", "bpchar", None, None),
        ("t2", "code", "bpchar", Some(3L), None), ("t2", "bigchar", "bpchar", Some(300L), None),
        ("t2", "hugec", "bpchar", Some(20000L), None),
        ("t2", "doc", "text", None, None), ("t2", "blob", "bytea", None, None),
        ("t2", "ratio", "float4", None, None), ("t2", "precise", "float8", None, None),
        ("t2", "ok", "bool", None, None), ("t2", "d", "date", None, None),
        ("t2", "ts", "timestamptz", None, Some(9L)), ("t2", "uid", "uuid", None, None),
        ("t2", "payload", "jsonb", None, None), ("t2", "weird", "tsvector", None, None))
        .toDF("table_name", "column_name", "data_type", "data_precision", "data_scale")
      cat.select(col("table_name"), col("column_name"), col("data_type"),
          StructMigrate.mapPostgresType(
            col("data_type"), col("data_precision"), col("data_scale")).as("target_type"))
        .orderBy("table_name", "column_name")
    },

    // Full table-driven rule book (TypeMap): all six reference directions
    // (O2M/O2T/M2O/T2O/P2M/P2T, 274 rules mirroring
    // model/buildin/buildin_rule_datatype.go) exercised over a catalog
    // sample that hits every parameterization branch of
    // database/mapping/{oracle,mysql,postgresql}.go. The oracle joins
    // the SAME rule data (emitted as VALUES from the bundled CSV) and
    // re-implements the precision/scale/length placement independently
    // in SQL — a true differential over both the name map join and the
    // parameterize tier. Scale shape: rules broadcast; one pass over the
    // catalog, no shuffle.
    QueryDef.sql(
      "q567_typemap_rulebook", {
        val rulesValues = graft.operators.TypeMap.rules
          .map(r => s"('${r.direction}','${r.sourceType}','${r.targetType}')")
          .mkString(",\n  ")
        val catValues = typemapSample
          .map { case (d, t, c, dt, p, s, l) =>
            def n(o: Option[Long]) = o.map(_.toString).getOrElse("NULL")
            s"('$d','$t','$c','$dt',${n(p)},${n(s)},${n(l)})"
          }.mkString(",\n  ")
        s"""WITH rules(direction, source_type, target_type) AS (VALUES
           |  $rulesValues),
           |cat(direction, table_name, column_name, data_type, p, s, l) AS (VALUES
           |  $catValues),
           |j AS (SELECT c.*, r.target_type AS tname FROM cat c
           |      LEFT JOIN rules r ON r.direction = c.direction
           |                       AND r.source_type = upper(c.data_type))
           |SELECT direction, table_name, column_name, data_type,
           |  CASE
           |  WHEN direction IN ('O2M','O2T') THEN CASE
           |    WHEN upper(data_type) = 'NUMBER' THEN
           |      CASE WHEN direction = 'O2T' THEN
           |          CASE WHEN p IS NULL THEN 'DECIMAL(65,30)'
           |               WHEN coalesce(s,0) > 0 AND (coalesce(s,0) >= p OR p = 38)
           |                 THEN 'DECIMAL(65,' || least(s,30) || ')'
           |               WHEN coalesce(s,0) > 0 THEN 'DECIMAL(' || least(p,65) || ',' || least(s,30) || ')'
           |               WHEN p - coalesce(s,0) <= 38 THEN 'DECIMAL(' || greatest(p - coalesce(s,0), 1) || ',0)'
           |               ELSE 'DECIMAL(65,0)' END
           |        ELSE
           |          CASE WHEN p IS NULL THEN 'DECIMAL(65,30)'
           |               WHEN coalesce(s,0) > 0 AND (coalesce(s,0) >= p OR p = 38)
           |                 THEN 'DECIMAL(65,' || least(s,30) || ')'
           |               WHEN coalesce(s,0) > 0 THEN 'DECIMAL(' || least(p,65) || ',' || least(s,30) || ')'
           |               WHEN p - coalesce(s,0) < 3 THEN 'TINYINT' WHEN p - coalesce(s,0) < 5 THEN 'SMALLINT'
           |               WHEN p - coalesce(s,0) < 9 THEN 'INT' WHEN p - coalesce(s,0) < 19 THEN 'BIGINT'
           |               WHEN p - coalesce(s,0) <= 38 THEN 'DECIMAL(' || (p - coalesce(s,0)) || ',0)'
           |               ELSE 'DECIMAL(65,0)' END END
           |    WHEN upper(data_type) IN ('DECIMAL','DEC','NUMERIC') AND p IS NOT NULL
           |      THEN tname || '(' || least(p,65) || ',' || least(coalesce(s,0),30) || ')'
           |    WHEN upper(data_type) IN ('CHAR','CHARACTER','NCHAR') AND coalesce(l,0) > 255 THEN 'VARCHAR(' || l || ')'
           |    WHEN upper(data_type) IN ('CHAR','CHARACTER','NCHAR') THEN tname || '(' || coalesce(l,0) || ')'
           |    WHEN upper(data_type) IN ('VARCHAR','VARCHAR2','NVARCHAR2') THEN tname || '(' || coalesce(l,0) || ')'
           |    WHEN upper(data_type) = 'RAW' THEN tname || '(' || coalesce(l,0) || ')'
           |    WHEN upper(data_type) LIKE 'TIMESTAMP%' AND tname IN ('TIMESTAMP','DATETIME')
           |      THEN tname || '(' || least(coalesce(s,6),6) || ')'
           |    WHEN upper(data_type) = 'FLOAT' AND coalesce(s,0) = 0 THEN 'DOUBLE'
           |    WHEN upper(data_type) = 'BFILE' THEN tname || '(255)'
           |    WHEN upper(data_type) = 'ROWID' THEN tname || '(64)'
           |    WHEN upper(data_type) = 'UROWID' THEN tname || '(' || coalesce(l,0) || ')'
           |    WHEN upper(data_type) LIKE 'INTERVAL%' THEN tname || '(30)'
           |    ELSE tname END
           |  WHEN direction IN ('M2O','T2O') THEN CASE
           |    WHEN upper(data_type) = 'TINYINT' THEN 'NUMBER(3,0)'
           |    WHEN upper(data_type) = 'SMALLINT' THEN 'NUMBER(5,0)'
           |    WHEN upper(data_type) = 'MEDIUMINT' THEN 'NUMBER(7,0)'
           |    WHEN upper(data_type) IN ('INT','INTEGER') THEN 'NUMBER(10,0)'
           |    WHEN upper(data_type) = 'BIGINT' THEN 'NUMBER(19,0)'
           |    WHEN upper(data_type) IN ('DECIMAL','NUMERIC') AND p IS NOT NULL
           |      THEN tname || '(' || least(p,38) || ',' || coalesce(s,0) || ')'
           |    WHEN upper(data_type) = 'YEAR' THEN 'NUMBER'
           |    WHEN upper(data_type) = 'TIMESTAMP' THEN tname || '(' || least(coalesce(s,6),9) || ')'
           |    WHEN upper(data_type) IN ('CHAR','VARCHAR','TINYTEXT') THEN tname || '(' || coalesce(l,0) || ' CHAR)'
           |    WHEN upper(data_type) IN ('BIT','BINARY') THEN tname || '(' || greatest(coalesce(p,-1),1) || ')'
           |    WHEN upper(data_type) = 'VARBINARY' THEN tname || '(' || coalesce(l,0) || ')'
           |    ELSE tname END
           |  ELSE CASE
           |    WHEN upper(data_type) IN ('NUMERIC','DECIMAL') AND p IS NULL THEN 'DECIMAL(65,30)'
           |    WHEN upper(data_type) IN ('NUMERIC','DECIMAL')
           |      THEN 'DECIMAL(' || least(p,65) || ',' || least(coalesce(s,0),30) || ')'
           |    WHEN upper(data_type) = 'MONEY' THEN 'DECIMAL(19,2)'
           |    WHEN upper(data_type) IN ('CHARACTER','BPCHAR') AND coalesce(l,0) <= 0 THEN 'LONGTEXT'
           |    WHEN upper(data_type) IN ('CHARACTER','BPCHAR') AND l <= 255 THEN 'CHAR(' || l || ')'
           |    WHEN upper(data_type) IN ('CHARACTER','BPCHAR') AND l <= 16382 THEN 'VARCHAR(' || l || ')'
           |    WHEN upper(data_type) IN ('CHARACTER','BPCHAR') THEN 'LONGTEXT'
           |    WHEN upper(data_type) = 'CHARACTER VARYING' AND coalesce(l,0) <= 0 THEN 'LONGTEXT'
           |    WHEN upper(data_type) = 'CHARACTER VARYING' AND l <= 16382 THEN 'VARCHAR(' || l || ')'
           |    WHEN upper(data_type) = 'CHARACTER VARYING' AND l <= 4194303 THEN 'MEDIUMTEXT'
           |    WHEN upper(data_type) = 'CHARACTER VARYING' THEN 'LONGTEXT'
           |    WHEN upper(data_type) = 'BOOLEAN' THEN 'TINYINT(1)'
           |    WHEN upper(data_type) = 'BIT' THEN tname || '(' || greatest(coalesce(p,1),1) || ')'
           |    WHEN upper(data_type) = 'UUID' THEN 'VARCHAR(36)'
           |    WHEN upper(data_type) IN ('CIDR','INET') THEN 'VARCHAR(43)'
           |    WHEN upper(data_type) = 'MACADDR' THEN 'VARCHAR(17)'
           |    WHEN upper(data_type) = 'TXID_SNAPSHOT' THEN 'VARCHAR(256)'
           |    WHEN upper(data_type) = 'TIMESTAMP WITHOUT TIME ZONE'
           |      THEN 'DATETIME(' || least(coalesce(s,6),6) || ')'
           |    ELSE tname END
           |  END AS target_type
           |FROM j ORDER BY direction, table_name, column_name""".stripMargin
      }) { (s, dir) =>
      import s.implicits._
      val cat = typemapSample
        .map { case (d, t, c, dt, p, sc, l) => (d, t, c, dt, p, sc, l) }
        .toDF("direction", "table_name", "column_name", "data_type",
          "data_precision", "data_scale", "data_length")
      val mapped = Seq("O2M", "O2T", "M2O", "T2O", "P2M", "P2T").map { d =>
        graft.operators.TypeMap.mapCatalog(cat.where(col("direction") === d), d)
      }.reduce(_ unionByName _)
      mapped.select("direction", "table_name", "column_name", "data_type", "target_type")
        .orderBy("direction", "table_name", "column_name")
    },

    // Dialect-correct SQL rendering (S6 — the reference's per-target
    // statement translators, processor_translate_{mysql,oracle,postgres}
    // .go): identifier quoting, REPLACE INTO / MERGE / ON CONFLICT safe
    // modes, INSERT ALL multi-row, bind-var prepared twins, keyed DELETE.
    // The oracle carries HAND-WRITTEN expected statement text (authored
    // against the reference's shapes, live-executed for derby in
    // SqlDialectSpec), so a rendering drift hash-fails — the q572
    // independent-expectation contract applied to SQL text.
    QueryDef.sql(
      "q600_dialect_render",
      """WITH r(dialect, form, stmt) AS (VALUES
        |  ('derby', 'merge_stage', 'MERGE INTO "APP"."T" T1
        |USING "APP"."T_STAGE" T2
        |ON (T1."id" = T2."id")
        |WHEN MATCHED THEN UPDATE SET T1."name" = T2."name"
        |WHEN NOT MATCHED THEN INSERT ("id","name") VALUES (T2."id",T2."name")'),
        |  ('mysql', 'insert', 'INSERT INTO `s`.`t` (`id`,`name`) VALUES (1,''a''),(2,''b'');'),
        |  ('mysql', 'prepare_insert', 'INSERT INTO `s`.`t` (`id`,`name`) VALUES (?,?),(?,?),(?,?)'),
        |  ('mysql', 'replace', 'REPLACE INTO `s`.`t` (`id`,`name`) VALUES (1,''a''),(2,''b'');'),
        |  ('oracle', 'insert_all', 'INSERT ALL
        | INTO "S"."T" ("id","name") VALUES (1,''a'')
        | INTO "S"."T" ("id","name") VALUES (2,''b'')
        |SELECT * FROM DUAL;'),
        |  ('oracle', 'merge', 'MERGE INTO "S"."T" T1
        |USING (SELECT 1 AS "id",''a'' AS "name" FROM DUAL UNION SELECT 2 AS "id",''b'' AS "name" FROM DUAL) T2
        |ON (T1."id" = T2."id")
        |WHEN MATCHED THEN UPDATE SET T1."name" = T2."name"
        |WHEN NOT MATCHED THEN INSERT ("id","name") VALUES (T2."id",T2."name")'),
        |  ('oracle', 'prepare_merge', 'MERGE INTO "S"."T" T1
        |USING (SELECT ? AS "id",? AS "name" FROM DUAL) T2
        |ON (T1."id" = T2."id")
        |WHEN MATCHED THEN UPDATE SET T1."name" = T2."name"
        |WHEN NOT MATCHED THEN INSERT ("id","name") VALUES (T2."id",T2."name")'),
        |  ('postgres', 'delete', 'DELETE FROM "s"."t" WHERE ctid IN (SELECT ctid FROM "s"."t" WHERE "id" = 1 AND "name" IS NULL LIMIT 2);'),
        |  ('postgres', 'prepare_upsert', 'INSERT INTO "s"."t" ("id","name") VALUES (?,?) ON CONFLICT ("id") DO UPDATE SET "name" = excluded."name"'),
        |  ('postgres', 'upsert', 'INSERT INTO "s"."t" ("id","name") VALUES (1,''a''),(2,''b'') ON CONFLICT ("id") DO UPDATE SET "name" = excluded."name";'))
        |SELECT dialect, form, stmt FROM r ORDER BY dialect, form""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.sources.SqlDialects._
      val cols = Seq("id", "name")
      val keys = Seq("id")
      val rows = Seq(Seq("1", "'a'"), Seq("2", "'b'"))
      Seq(
        ("derby", "merge_stage", mergeTableSql(derby, "APP", "T", "T_STAGE", cols, keys,
          sourceSchema = Some("APP"))),
        ("mysql", "insert", insertSql(mysql, "s", "t", cols, rows)),
        ("mysql", "prepare_insert", prepareInsertSql(mysql, "s", "t", cols, 3)),
        ("mysql", "replace", upsertSql(mysql, "s", "t", cols, keys, rows)),
        ("oracle", "insert_all", insertSql(oracle, "S", "T", cols, rows)),
        ("oracle", "merge", upsertSql(oracle, "S", "T", cols, keys, rows)),
        ("oracle", "prepare_merge", prepareUpsertSql(oracle, "S", "T", cols, keys)),
        ("postgres", "delete", deleteSql(postgres, "s", "t", cols, Seq("1", "NULL"), Some(2))),
        ("postgres", "prepare_upsert", prepareUpsertSql(postgres, "s", "t", cols, keys)),
        ("postgres", "upsert", upsertSql(postgres, "s", "t", cols, keys, rows)))
        .toDF("dialect", "form", "stmt")
        .orderBy("dialect", "form")
    },

    // assess: constraint + index TYPE-count screens
    // (GetDatabaseSchemaConstraintTypeCounts / …IndexTypeCounts,
    // database/assess_migrate.go:56-58) over an information-schema
    // DataFrame standing in for DBA_CONSTRAINTS/DBA_INDEXES (no live
    // catalog in the sandbox — the aggregation IS the screen; a real
    // deployment feeds the same shape via spark.read.jdbc on the DBA
    // views). One grouped count per (schema, type), both screens in one
    // result keyed by screen name.
    QueryDef.sql(
      "q568_assess_type_counts", {
        val consValues = assessConstraints
          .map { case (s, t, c, ty) => s"('$s','$t','$c','$ty')" }.mkString(",\n  ")
        val idxValues = assessIndexes
          .map { case (s, t, i, ty, u) => s"('$s','$t','$i','$ty',$u)" }.mkString(",\n  ")
        s"""WITH cons(owner, table_name, constraint_name, constraint_type) AS (VALUES
           |  $consValues),
           |idx(owner, table_name, index_name, index_type, uniqueness) AS (VALUES
           |  $idxValues)
           |SELECT * FROM (
           |  SELECT 'CONSTRAINT' AS screen, owner, constraint_type AS obj_type,
           |    COUNT(*) AS cnt
           |  FROM cons GROUP BY 2, 3
           |  UNION ALL
           |  SELECT 'INDEX', owner, index_type, COUNT(*) FROM idx GROUP BY 2, 3
           |  UNION ALL
           |  SELECT 'INDEX_UNIQUENESS', owner,
           |    CASE WHEN uniqueness = 1 THEN 'UNIQUE' ELSE 'NONUNIQUE' END, COUNT(*)
           |  FROM idx GROUP BY 2, 3)
           |ORDER BY screen, owner, obj_type""".stripMargin
      }) { (s, dir) =>
      import s.implicits._
      val cons = assessConstraints.toDF("owner", "table_name",
        "constraint_name", "constraint_type")
      val idx = assessIndexes.toDF("owner", "table_name", "index_name",
        "index_type", "uniqueness")
      cons.groupBy("owner", "constraint_type")
        .agg(count(lit(1)).as("cnt"))
        .select(lit("CONSTRAINT").as("screen"), col("owner"),
          col("constraint_type").as("obj_type"), col("cnt"))
        .unionAll(idx.groupBy("owner", "index_type").agg(count(lit(1)).as("cnt"))
          .select(lit("INDEX").as("screen"), col("owner"),
            col("index_type").as("obj_type"), col("cnt")))
        .unionAll(idx.groupBy(col("owner"),
            when(col("uniqueness") === 1, "UNIQUE").otherwise("NONUNIQUE").as("u"))
          .agg(count(lit(1)).as("cnt"))
          .select(lit("INDEX_UNIQUENESS").as("screen"), col("owner"),
            col("u").as("obj_type"), col("cnt")))
        .orderBy("screen", "owner", "obj_type")
    },

    // assess: partition screens — partition/subpartition type counts and
    // the over-limit detector (GetDatabaseSchemaPartitionTypeCounts,
    // …SubPartitionTypeCounts, …PartitionTableCountsOverLimit at
    // assess_migrate.go:34,53-54) over a DBA_PART_TABLES-shaped frame.
    QueryDef.sql(
      "q569_assess_partition_screens", {
        val partValues = assessPartitions
          .map { case (s, t, pt, st, n) => s"('$s','$t','$pt','$st',$n)" }
          .mkString(",\n  ")
        s"""WITH pt(owner, table_name, partitioning_type, subpartitioning_type, partition_count) AS (VALUES
           |  $partValues)
           |SELECT * FROM (
           |  SELECT 'PARTITION_TYPE' AS screen, owner,
           |    partitioning_type AS obj_type, CAST(COUNT(*) AS BIGINT) AS cnt
           |  FROM pt GROUP BY 2, 3
           |  UNION ALL
           |  SELECT 'SUBPARTITION_TYPE', owner, subpartitioning_type, COUNT(*)
           |  FROM pt WHERE subpartitioning_type <> 'NONE' GROUP BY 2, 3
           |  UNION ALL
           |  SELECT 'PARTITIONS_OVER_LIMIT', owner, table_name, partition_count
           |  FROM pt WHERE partition_count > 100)
           |ORDER BY screen, owner, obj_type""".stripMargin
      }) { (s, dir) =>
      import s.implicits._
      val pt = assessPartitions.toDF("owner", "table_name",
        "partitioning_type", "subpartitioning_type", "partition_count")
      pt.groupBy("owner", "partitioning_type").agg(count(lit(1)).as("cnt"))
        .select(lit("PARTITION_TYPE").as("screen"), col("owner"),
          col("partitioning_type").as("obj_type"), col("cnt"))
        .unionAll(pt.where(col("subpartitioning_type") =!= "NONE")
          .groupBy("owner", "subpartitioning_type").agg(count(lit(1)).as("cnt"))
          .select(lit("SUBPARTITION_TYPE").as("screen"), col("owner"),
            col("subpartitioning_type").as("obj_type"), col("cnt")))
        .unionAll(pt.where(col("partition_count") > 100)
          .select(lit("PARTITIONS_OVER_LIMIT").as("screen"), col("owner"),
            col("table_name").as("obj_type"),
            col("partition_count").cast("long").as("cnt")))
        .orderBy("screen", "owner", "obj_type")
    },

    // assess: identifier-length over-limit screens across five object
    // kinds (GetDatabase*NameLengthOverLimit family,
    // assess_migrate.go:43-48) — the MySQL-64-char compatibility check
    // run before any Oracle→MySQL migration. One union of per-kind
    // filters over the synthetic catalog; at scale each screen is a
    // pushed-down length() filter on a catalog scan.
    QueryDef.sql(
      "q570_assess_name_length", {
        val objValues = assessObjects
          .map { case (s, k, n) => s"('$s','$k','$n')" }.mkString(",\n  ")
        s"""WITH obj(owner, obj_kind, obj_name) AS (VALUES
           |  $objValues)
           |SELECT owner, obj_kind, obj_name,
           |  CAST(length(obj_name) AS BIGINT) AS name_len
           |FROM obj WHERE length(obj_name) > 30
           |ORDER BY owner, obj_kind, obj_name""".stripMargin
      }) { (s, dir) =>
      import s.implicits._
      assessObjects.toDF("owner", "obj_kind", "obj_name")
        .where(length(col("obj_name")) > 30)
        .select(col("owner"), col("obj_kind"), col("obj_name"),
          length(col("obj_name")).cast("long").as("name_len"))
        .orderBy("owner", "obj_kind", "obj_name")
    },

    // assess: schema OBJECT screens — synonym / materialized-view / code
    // / sequence / db-link inventories and the object-type count rollup
    // (GetDatabaseSchemaSynonymObject, …MaterializedViewObject,
    // …CodeObject, …ObjectTypeCounts at assess_migrate.go:36-37,33,52)
    // over a DBA_OBJECTS-shaped frame. These are the compatibility
    // inventories a migration assessment prints (synonyms and db-links
    // have no MySQL equivalent — their presence is the finding).
    QueryDef.sql(
      "q571_assess_schema_objects", {
        val objValues = assessSchemaObjects
          .map { case (s, ty, n, st) => s"('$s','$ty','$n','$st')" }
          .mkString(",\n  ")
        s"""WITH dba(owner, object_type, object_name, status) AS (VALUES
           |  $objValues)
           |SELECT * FROM (
           |  SELECT 'OBJECT_TYPE_COUNTS' AS screen, owner,
           |    object_type AS detail, CAST(COUNT(*) AS BIGINT) AS cnt
           |  FROM dba GROUP BY 2, 3
           |  UNION ALL
           |  SELECT 'INCOMPATIBLE_OBJECT', owner, object_type || ':' || object_name, 1
           |  FROM dba WHERE object_type IN ('SYNONYM', 'DATABASE LINK', 'MATERIALIZED VIEW')
           |  UNION ALL
           |  SELECT 'INVALID_CODE_OBJECT', owner, object_type || ':' || object_name, 1
           |  FROM dba WHERE object_type IN ('FUNCTION', 'PROCEDURE', 'PACKAGE', 'TRIGGER')
           |    AND status = 'INVALID')
           |ORDER BY screen, owner, detail""".stripMargin
      }) { (s, dir) =>
      import s.implicits._
      val dba = assessSchemaObjects.toDF("owner", "object_type", "object_name", "status")
      dba.groupBy("owner", "object_type").agg(count(lit(1)).as("cnt"))
        .select(lit("OBJECT_TYPE_COUNTS").as("screen"), col("owner"),
          col("object_type").as("detail"), col("cnt"))
        .unionAll(dba
          .where(col("object_type").isin("SYNONYM", "DATABASE LINK", "MATERIALIZED VIEW"))
          .select(lit("INCOMPATIBLE_OBJECT").as("screen"), col("owner"),
            concat(col("object_type"), lit(":"), col("object_name")).as("detail"),
            lit(1L).as("cnt")))
        .unionAll(dba
          .where(col("object_type").isin("FUNCTION", "PROCEDURE", "PACKAGE", "TRIGGER") &&
            col("status") === "INVALID")
          .select(lit("INVALID_CODE_OBJECT").as("screen"), col("owner"),
            concat(col("object_type"), lit(":"), col("object_name")).as("detail"),
            lit(1L).as("cnt")))
        .orderBy("screen", "owner", "detail")
    },

    // assess: synonym-MAPPING + sequence screens — the synonym detail
    // inventory with its redirect target (GetDatabaseSchemaSynonymObject,
    // database/oracle/assess_migrate.go:509-510: OWNER, SYNONYM_NAME,
    // TABLE_OWNER, TABLE_NAME from DBA_SYNONYMS), a cross-schema detector
    // (a synonym whose target lies OUTSIDE the migrated schema set cannot
    // be carried over — its presence is the finding), and the sequence
    // name-length screen with ORDER_FLAG
    // (GetDatabaseSchemaTableSequenceNameLengthOverLimit,
    // assess_migrate.go:818-832). q571 counts these object kinds; this
    // screen emits the per-object DETAIL rows the assess report prints.
    QueryDef.sql(
      "q593_assess_synonym_sequence", {
        val synValues = assessSynonyms
          .map { case (o, sn, to, tn) => s"('$o','$sn','$to','$tn')" }
          .mkString(",\n  ")
        val seqValues = assessSequences
          .map { case (o, n, f) => s"('$o','$n','$f')" }.mkString(",\n  ")
        s"""WITH syn(owner, synonym_name, table_owner, table_name) AS (VALUES
           |  $synValues),
           |seq(sequence_owner, sequence_name, order_flag) AS (VALUES
           |  $seqValues)
           |SELECT * FROM (
           |  SELECT 'SYNONYM_MAP' AS screen, owner,
           |    synonym_name || '->' || table_owner || '.' || table_name AS detail,
           |    CAST(1 AS BIGINT) AS num
           |  FROM syn
           |  UNION ALL
           |  SELECT 'CROSS_SCHEMA_SYNONYM', owner,
           |    synonym_name || '->' || table_owner || '.' || table_name, 1
           |  FROM syn WHERE table_owner NOT IN ('APP', 'WH')
           |  UNION ALL
           |  SELECT 'SEQUENCE_NAME_OVER_LIMIT', sequence_owner,
           |    sequence_name || ':' || order_flag, length(sequence_name)
           |  FROM seq WHERE length(sequence_name) > 30)
           |ORDER BY screen, owner, detail""".stripMargin
      }) { (s, dir) =>
      import s.implicits._
      val syn = assessSynonyms.toDF("owner", "synonym_name", "table_owner", "table_name")
      val seq = assessSequences.toDF("sequence_owner", "sequence_name", "order_flag")
      val synDetail = concat(col("synonym_name"), lit("->"),
        col("table_owner"), lit("."), col("table_name")).as("detail")
      syn.select(lit("SYNONYM_MAP").as("screen"), col("owner"), synDetail,
          lit(1L).as("num"))
        .unionAll(syn.where(!col("table_owner").isin("APP", "WH"))
          .select(lit("CROSS_SCHEMA_SYNONYM").as("screen"), col("owner"),
            synDetail, lit(1L).as("num")))
        .unionAll(seq.where(length(col("sequence_name")) > 30)
          .select(lit("SEQUENCE_NAME_OVER_LIMIT").as("screen"),
            col("sequence_owner").as("owner"),
            concat(col("sequence_name"), lit(":"), col("order_flag")).as("detail"),
            length(col("sequence_name")).cast("long").as("num")))
        .orderBy("screen", "owner", "detail")
    },

    // assess: instance/parameter screens — the 4 named V$PARAMETER /
    // NLS_DATABASE_PARAMETERS picks (GetDatabaseParameters,
    // database/oracle/assess_migrate.go:123-170: db_block_size,
    // cluster_database, cluster_database_instances, NLS_CHARACTERSET),
    // the V$INSTANCE row dump (GetDatabaseInstance, :173-185), and the
    // top-5 active-session-history samples by session count
    // (GetDatabaseSessionMaxActiveCount, :219-246 — a genuine
    // groupBy+top-N over the sample history; ties broken by sample_id
    // on BOTH engines since ROWNUM under ties is unspecified).
    QueryDef.sql(
      "q594_assess_instance_params", {
        val prmValues = assessParams
          .map { case (k, v) => s"('$k','$v')" }.mkString(",\n  ")
        val instValues = assessInstances
          .map { case (h, n, i, t) => s"('$h','$n',$i,$t)" }.mkString(",\n  ")
        val sessValues = assessSessHistory
          .map { case (d, i, sid) => s"($d,$i,$sid)" }.mkString(",\n  ")
        s"""WITH prm(name, value) AS (VALUES
           |  $prmValues),
           |inst(host_name, instance_name, instance_number, thread_number) AS (VALUES
           |  $instValues),
           |ash(dbid, instance_number, sample_id) AS (VALUES
           |  $sessValues)
           |SELECT * FROM (
           |  SELECT 'PARAMETER' AS screen, name AS item, value AS val
           |  FROM prm WHERE name IN ('db_block_size', 'cluster_database',
           |    'cluster_database_instances', 'NLS_CHARACTERSET')
           |  UNION ALL
           |  SELECT 'INSTANCE', instance_name,
           |    host_name || ':' || instance_number || '/' || thread_number
           |  FROM inst
           |  UNION ALL
           |  SELECT * FROM (
           |    SELECT 'SESSION_TOP' AS screen,
           |      dbid || '/' || instance_number || '/' || sample_id AS item,
           |      CAST(COUNT(*) AS VARCHAR) AS val
           |    FROM ash GROUP BY dbid, instance_number, sample_id
           |    ORDER BY COUNT(*) DESC, sample_id LIMIT 5))
           |ORDER BY screen, item""".stripMargin
      }) { (s, dir) =>
      import s.implicits._
      val prm = assessParams.toDF("name", "value")
      val inst = assessInstances.toDF("host_name", "instance_name",
        "instance_number", "thread_number")
      val ash = assessSessHistory.toDF("dbid", "instance_number", "sample_id")
      val sessTop = ash.groupBy("dbid", "instance_number", "sample_id")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("sample_id"))
        .limit(5)
        .select(lit("SESSION_TOP").as("screen"),
          concat_ws("/", col("dbid"), col("instance_number"), col("sample_id")).as("item"),
          col("cnt").cast("string").as("val"))
      prm.where(col("name").isin("db_block_size", "cluster_database",
          "cluster_database_instances", "NLS_CHARACTERSET"))
        .select(lit("PARAMETER").as("screen"), col("name").as("item"),
          col("value").as("val"))
        .unionAll(inst.select(lit("INSTANCE").as("screen"),
          col("instance_name").as("item"),
          concat(col("host_name"), lit(":"), col("instance_number"),
            lit("/"), col("thread_number")).as("val")))
        .unionAll(sessTop)
        .orderBy("screen", "item")
    },
  )

  /** Synthetic DBA_SYNONYMS rows: (owner, synonym_name, table_owner,
    * table_name) — incl. a target outside the migrated {APP, WH} set. */
  private lazy val assessSynonyms: Seq[(String, String, String, String)] =
    Seq(
      ("APP", "s_orders", "APP", "orders"),
      ("APP", "s_facts", "WH", "facts"),
      ("APP", "s_remote_dim", "EXT", "dim_region"),
      ("WH", "s_lineitem", "APP", "lineitem"),
      ("WH", "s_hr_emp", "HR", "employees"))

  /** Synthetic DBA_SEQUENCES rows: (owner, name, order_flag). */
  private lazy val assessSequences: Seq[(String, String, String)] =
    Seq(
      ("APP", "seq_orders", "N"),
      ("APP", "seq_events", "Y"),
      ("APP", "seq_for_the_table_with_the_unreasonably_long_name", "Y"),
      ("WH", "seq_facts", "N"),
      ("WH", "sequence_name_len_is_thirty_xx", "N")) // exactly 30 — boundary, excluded

  /** Synthetic V$PARAMETER/NLS kv rows — more than the 4 picked, so the
    * name filter is exercised. */
  private lazy val assessParams: Seq[(String, String)] =
    Seq(
      ("db_block_size", "8192"),
      ("cluster_database", "TRUE"),
      ("cluster_database_instances", "2"),
      ("NLS_CHARACTERSET", "AL32UTF8"),
      ("NLS_NCHAR_CHARACTERSET", "AL16UTF16"),
      ("sga_target", "17179869184"),
      ("open_cursors", "3000"))

  /** Synthetic V$INSTANCE rows: (host, instance, number, thread#). */
  private lazy val assessInstances: Seq[(String, String, Int, Int)] =
    Seq(("dbhost01", "orcl1", 1, 1), ("dbhost02", "orcl2", 2, 2))

  /** Synthetic DBA_HIST_ACTIVE_SESS_HISTORY rows: (dbid, instance_number,
    * sample_id) — one row per sampled active session, so the session
    * count is a real groupBy. 8 samples, counts 2..16, incl. a tie. */
  private lazy val assessSessHistory: Seq[(Long, Int, Long)] =
    (1 to 8).flatMap { sid =>
      val n = if (sid == 7) 12 else 2 * sid // sample 6 (12) ties sample 7
      Seq.fill(n)((141L, 1 + sid % 2, sid.toLong))
    }

  /** Synthetic DBA_OBJECTS rows: (owner, object_type, object_name,
    * status) spanning the assessed kinds incl. the MySQL-incompatible
    * ones (synonyms, db-links, mviews) and invalid code objects. */
  private lazy val assessSchemaObjects: Seq[(String, String, String, String)] =
    Seq(
      ("APP", "TABLE", "orders", "VALID"),
      ("APP", "TABLE", "lineitem", "VALID"),
      ("APP", "VIEW", "v_orders", "VALID"),
      ("APP", "SEQUENCE", "seq_orders", "VALID"),
      ("APP", "SEQUENCE", "seq_events", "VALID"),
      ("APP", "SYNONYM", "s_orders", "VALID"),
      ("APP", "SYNONYM", "s_remote_dim", "VALID"),
      ("APP", "FUNCTION", "f_price", "VALID"),
      ("APP", "FUNCTION", "f_legacy", "INVALID"),
      ("APP", "PROCEDURE", "p_load", "VALID"),
      ("APP", "PACKAGE", "pkg_etl", "INVALID"),
      ("APP", "TRIGGER", "trg_audit", "VALID"),
      ("APP", "MATERIALIZED VIEW", "mv_daily", "VALID"),
      ("WH", "TABLE", "facts", "VALID"),
      ("WH", "DATABASE LINK", "dl_app", "VALID"),
      ("WH", "MATERIALIZED VIEW", "mv_rollup", "VALID"),
      ("WH", "TRIGGER", "trg_refresh", "INVALID"),
      ("WH", "SEQUENCE", "seq_facts", "VALID"))

  /** Synthetic DBA_CONSTRAINTS rows: (owner, table, constraint, type) —
    * type ∈ P/C/U/F per BuildInOracleConstraintType*. */
  private lazy val assessConstraints: Seq[(String, String, String, String)] = {
    val owners = Seq("APP", "WH")
    owners.flatMap { o =>
      (0 until 12).map(i => (o, s"t$i", s"pk_$i", "P")) ++
        (0 until 8).map(i => (o, s"t$i", s"ck_$i", "C")) ++
        (0 until 5).map(i => (o, s"t$i", s"uk_$i", "U")) ++
        (0 until (if (o == "APP") 7 else 3)).map(i => (o, s"t$i", s"fk_$i", "F"))
    }
  }

  /** Synthetic DBA_INDEXES rows: (owner, table, index, type, unique01) —
    * types per BuildInOracleIndexType*. */
  private lazy val assessIndexes: Seq[(String, String, String, String, Int)] = {
    val owners = Seq("APP", "WH")
    owners.flatMap { o =>
      (0 until 10).map(i => (o, s"t$i", s"ix_n$i", "NORMAL", i % 3 min 1)) ++
        (0 until 4).map(i => (o, s"t$i", s"ix_b$i", "BITMAP", 0)) ++
        (0 until (if (o == "APP") 3 else 1))
          .map(i => (o, s"t$i", s"ix_f$i", "FUNCTION-BASED NORMAL", 0))
    }
  }

  /** Synthetic DBA_PART_TABLES rows:
    * (owner, table, partitioning, subpartitioning, partition_count). */
  private lazy val assessPartitions: Seq[(String, String, String, String, Int)] =
    Seq(
      ("APP", "sales", "RANGE", "HASH", 365),
      ("APP", "events", "RANGE", "NONE", 96),
      ("APP", "users", "HASH", "NONE", 16),
      ("APP", "logs", "RANGE", "LIST", 730),
      ("WH", "facts", "RANGE", "HASH", 1200),
      ("WH", "dims", "LIST", "NONE", 8),
      ("WH", "stage", "HASH", "NONE", 64))

  /** Synthetic object-name rows spanning the five screened kinds. */
  private lazy val assessObjects: Seq[(String, String, String)] =
    Seq(
      ("APP", "TABLE", "orders"),
      ("APP", "TABLE", "a_table_name_that_is_way_longer_than_thirty_chars"),
      ("APP", "COLUMN", "ok_col"),
      ("APP", "COLUMN", "an_extremely_verbose_column_name_over_the_limit"),
      ("APP", "INDEX", "ix_ok"),
      ("APP", "INDEX", "ix_on_that_one_table_with_the_many_long_columns"),
      ("APP", "VIEW", "v_ok"),
      ("WH", "VIEW", "v_reporting_rollup_with_an_unreasonably_long_name"),
      ("WH", "SEQUENCE", "seq_ok"),
      ("WH", "SEQUENCE", "seq_for_the_table_with_the_unreasonably_long_name"),
      ("WH", "USER", "etl"),
      ("WH", "USER", "service_account_name_longer_than_thirty_chars"))

  /** Shared catalog sample for q567: one row per parameterization branch,
    * (direction, table, column, data_type, precision, scale, length).
    */
  private lazy val typemapSample: Seq[(String, String, String, String,
      Option[Long], Option[Long], Option[Long])] = {
    val N = None: Option[Long]
    def L(v: Long): Option[Long] = Some(v)
    Seq(
      ("O2M", "t", "c01", "NUMBER", L(4), L(0), L(22)),
      ("O2M", "t", "c02", "NUMBER", L(12), L(2), L(22)),
      ("O2M", "t", "c03", "NUMBER", N, N, L(22)),
      ("O2M", "t", "c04", "NUMBER", L(25), L(0), L(22)),
      ("O2M", "t", "c05", "VARCHAR2", N, N, L(50)),
      ("O2M", "t", "c06", "CHAR", N, N, L(300)),
      ("O2M", "t", "c07", "CHAR", N, N, L(10)),
      ("O2M", "t", "c08", "RAW", N, N, L(16)),
      ("O2M", "t", "c09", "TIMESTAMP(3)", N, L(3), L(11)),
      ("O2M", "t", "c10", "DATE", N, N, L(7)),
      ("O2M", "t", "c11", "CLOB", N, N, L(4000)),
      ("O2M", "t", "c12", "BLOB", N, N, L(4000)),
      ("O2M", "t", "c13", "XMLTYPE", N, N, L(0)),
      ("O2M", "t", "c14", "ROWID", N, N, L(10)),
      ("O2M", "t", "c15", "UROWID", N, N, L(40)),
      ("O2M", "t", "c16", "BFILE", N, N, L(530)),
      ("O2M", "t", "c17", "INTERVAL YEAR(2) TO MONTH", N, N, L(5)),
      ("O2M", "t", "c18", "FLOAT", N, L(0), L(22)),
      ("O2M", "t", "c19", "BINARY_DOUBLE", N, N, L(8)),
      ("O2M", "t", "c20", "NCHAR", N, N, L(12)),
      ("O2M", "t", "c21", "TIMESTAMP(3) WITH TIME ZONE", N, L(3), L(13)),
      ("O2M", "t", "c22", "LONG", N, N, L(0)),
      // NUMBER ladder edges: negative scale folds into precision; p=38 and
      // s>p widen to DECIMAL(65,·) (oracle.go:75-134)
      ("O2M", "t", "c23", "NUMBER", L(2), L(-2), L(22)),
      ("O2M", "t", "c24", "NUMBER", L(38), L(10), L(22)),
      ("O2M", "t", "c25", "NUMBER", L(3), L(5), L(22)),
      ("O2M", "t", "c26", "NUMBER", L(38), L(-84), L(22)),
      ("O2T", "t", "c01", "NUMBER", L(4), L(0), L(22)),
      ("O2T", "t", "c02", "NUMBER", L(12), L(2), L(22)),
      ("O2T", "t", "c03", "NUMBER", N, N, L(22)),
      ("O2T", "t", "c04", "VARCHAR2", N, N, L(64)),
      ("O2T", "t", "c05", "NUMBER", L(2), L(-2), L(22)),
      ("O2T", "t", "c06", "NUMBER", L(38), L(35), L(22)),
      ("M2O", "t", "c01", "TINYINT", L(3), L(0), L(1)),
      ("M2O", "t", "c02", "SMALLINT", L(5), L(0), L(2)),
      ("M2O", "t", "c03", "MEDIUMINT", L(7), L(0), L(3)),
      ("M2O", "t", "c04", "INT", L(10), L(0), L(4)),
      ("M2O", "t", "c05", "BIGINT", L(19), L(0), L(8)),
      ("M2O", "t", "c06", "DECIMAL", L(10), L(2), L(5)),
      ("M2O", "t", "c07", "TIMESTAMP", N, L(3), L(4)),
      ("M2O", "t", "c08", "CHAR", N, N, L(5)),
      ("M2O", "t", "c09", "VARCHAR", N, N, L(200)),
      ("M2O", "t", "c10", "TINYTEXT", N, N, L(255)),
      ("M2O", "t", "c11", "TEXT", N, N, L(65535)),
      ("M2O", "t", "c12", "LONGTEXT", N, N, L(0)),
      ("M2O", "t", "c13", "BIT", L(8), L(0), L(1)),
      ("M2O", "t", "c14", "BINARY", L(16), L(0), L(16)),
      ("M2O", "t", "c15", "VARBINARY", N, N, L(32)),
      ("M2O", "t", "c16", "DATETIME", N, L(0), L(5)),
      ("M2O", "t", "c17", "YEAR", N, N, L(1)),
      ("M2O", "t", "c18", "DOUBLE", N, N, L(8)),
      ("T2O", "t", "c01", "INT", L(10), L(0), L(4)),
      ("T2O", "t", "c02", "VARCHAR", N, N, L(64)),
      ("P2M", "t", "c01", "NUMERIC", L(10), L(2), L(5)),
      ("P2M", "t", "c02", "NUMERIC", N, N, L(0)),
      ("P2M", "t", "c03", "MONEY", N, N, L(8)),
      ("P2M", "t", "c04", "CHARACTER", N, N, L(100)),
      ("P2M", "t", "c05", "CHARACTER", N, N, L(5000)),
      ("P2M", "t", "c06", "CHARACTER VARYING", N, N, L(100)),
      ("P2M", "t", "c07", "CHARACTER VARYING", N, N, L(100000)),
      ("P2M", "t", "c08", "TEXT", N, N, L(0)),
      ("P2M", "t", "c09", "BOOLEAN", N, N, L(1)),
      ("P2M", "t", "c10", "UUID", N, N, L(16)),
      ("P2M", "t", "c11", "CIDR", N, N, L(19)),
      ("P2M", "t", "c12", "MACADDR", N, N, L(6)),
      ("P2M", "t", "c13", "TXID_SNAPSHOT", N, N, L(0)),
      ("P2M", "t", "c14", "TIMESTAMP WITHOUT TIME ZONE", N, L(3), L(8)),
      ("P2M", "t", "c15", "BYTEA", N, N, L(0)),
      ("P2M", "t", "c16", "JSON", N, N, L(0)),
      ("P2M", "t", "c17", "XML", N, N, L(0)),
      ("P2M", "t", "c18", "POINT", N, N, L(16)),
      ("P2T", "t", "c01", "INTEGER", L(10), L(0), L(4)),
      ("P2T", "t", "c02", "JSON", N, N, L(0)))
  }
}
