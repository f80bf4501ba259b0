package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

/** Pins the r6 native long-array primitives behind the 1M-vector
  * scale paths: `long_dot` (k-means per-centroid dot over the
  * once-scaled corpus) and `min_k_long` (in-row multi-probe selection
  * over packed (score, index) longs). Both must agree bit-for-bit with
  * their declarative twins and with their own interpreted eval.
  */
class LongVectorExpressionsSpec extends SparkSpec {

  private def scaled = Tables(spark, sfDir).embeddings.limit(200)
    .select(col("vec_id"),
      expr("transform(embedding, v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT))")
        .as("xa"))

  test("long_dot equals the declarative aggregate/zip_with twin") {
    val both = scaled.select(
      GraftFunctions.longDot(col("xa"), col("xa")).as("native"),
      expr("aggregate(zip_with(xa, xa, (a, b) -> a * b), 0L, (s, v) -> s + v)").as("decl"))
    assert(both.where(col("native") =!= col("decl")).count() == 0)
    assert(both.where(col("native").isNull).count() == 0)
  }

  test("long_dot: null in, null out; length mismatch yields NULL") {
    val df = spark.range(1).select(
      GraftFunctions.longDot(lit(null).cast("array<bigint>"), array(lit(1L))).as("n"),
      GraftFunctions.longDot(array(lit(1L), lit(2L)), array(lit(3L))).as("mismatch"),
      GraftFunctions.longDot(array(lit(2L), lit(3L)), array(lit(5L), lit(7L))).as("ok"))
    val row = df.head()
    assert(row.isNullAt(0), "null input must yield NULL")
    assert(row.isNullAt(1), "length mismatch must yield NULL (rewrite-safety)")
    assert(row.getLong(2) == 2L * 5L + 3L * 7L)
  }

  test("min_k_long equals slice(array_sort(...), 1, k) for every k") {
    val arrs = spark.range(100).select(col("id"),
      expr("transform(sequence(0, 31), i -> CAST(hash(id, i) AS BIGINT))").as("xs"))
    for (k <- Seq(0, 1, 5, 32, 40)) {
      val both = arrs.select(
        GraftFunctions.minKLong(col("xs"), lit(k)).as("native"),
        expr(s"slice(array_sort(xs), 1, $k)").as("decl"))
      assert(both.where(not(col("native") <=> col("decl"))).count() == 0,
        s"min_k_long($k) must equal sort+slice")
    }
  }

  test("min_k_long: null in, null out; duplicates preserved") {
    val df = spark.range(1).select(
      GraftFunctions.minKLong(lit(null).cast("array<bigint>"), lit(3)).as("n"),
      GraftFunctions.minKLong(array(lit(5L), lit(1L), lit(5L), lit(1L)), lit(3)).as("dup"))
    val row = df.head()
    assert(row.isNullAt(0))
    assert(row.getSeq[Long](1) == Seq(1L, 1L, 5L))
  }

  test("interpreted eval agrees with codegen for both primitives") {
    val arrs = spark.range(64).select(
      expr("transform(sequence(0, 63), i -> CAST(hash(id, i) % 1000000 AS BIGINT))").as("xs"))
      .cache()
    def run(): (Seq[Long], Seq[Seq[Long]]) = {
      val r = arrs.select(
        GraftFunctions.longDot(col("xs"), col("xs")).as("d"),
        GraftFunctions.minKLong(col("xs"), lit(7)).as("k")).collect()
      (r.map(_.getLong(0)).toSeq, r.map(_.getSeq[Long](1)).toSeq)
    }
    val withCodegen = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(run() == withCodegen)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      arrs.unpersist()
    }
  }
}
