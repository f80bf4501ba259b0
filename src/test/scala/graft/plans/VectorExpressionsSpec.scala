package graft.plans

import org.apache.spark.sql.functions._

import graft.{DeclarativeTwins, SparkSpec}
import graft.core.Tables
import graft.operators.Similarity

class VectorExpressionsSpec extends SparkSpec {

  test("native scaled_dot equals the declarative aggregate/zip_with twin") {
    val e = Tables(spark, sfDir).embeddings.limit(200)
    val both = e.crossJoin(
        Tables(spark, sfDir).embeddings.where(col("vec_id") === 0)
          .select(col("embedding").as("qv")))
      .select(
        Similarity.scaledDot(col("embedding"), col("qv")).as("native"),
        DeclarativeTwins.scaledDot(col("embedding"), col("qv")).as("decl"))
    assert(both.where(col("native") =!= col("decl")).count() == 0)
  }

  test("scaled_dot is SQL-callable after registration") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT scaled_dot(array(CAST(1.5 AS FLOAT), CAST(-0.25 AS FLOAT)), " +
        "array(CAST(2.0 AS FLOAT), CAST(4.0 AS FLOAT)))").head().getLong(0)
    // floor(1.5e6)*floor(2e6) + floor(-0.25e6)*floor(4e6)
    assert(r == 1500000L * 2000000L + (-250000L) * 4000000L)
  }

  test("null inputs propagate null") {
    GraftFunctions.register(spark)
    assert(spark.sql("SELECT scaled_dot(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT)))")
      .head().isNullAt(0))
  }

  test("length mismatch yields NULL, matching the declarative twin") {
    GraftFunctions.register(spark)
    val df = spark.sql(
      """SELECT scaled_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |                  array(CAST(1.0 AS FLOAT))) AS native,
        |  aggregate(zip_with(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |                     array(CAST(1.0 AS FLOAT)),
        |      (x, y) -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0D) AS BIGINT)
        |              * CAST(FLOOR(CAST(y AS DOUBLE) * 1000000.0D) AS BIGINT)),
        |    0L, (acc, v) -> acc + v) AS decl""".stripMargin).head()
    assert(df.isNullAt(0), "native must be NULL on length mismatch")
    assert(df.isNullAt(1), "declarative twin is NULL on length mismatch")
  }

  test("interpreted eval agrees with codegen") {
    val e = Tables(spark, sfDir).embeddings.limit(50).cache()
    val withCodegen = e.select(Similarity.scaledDot(col("embedding"), col("embedding")).as("d"))
      .collect().map(_.getLong(0)).toSeq
    // force interpreted path
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interpreted = e.select(Similarity.scaledDot(col("embedding"), col("embedding")).as("d"))
        .collect().map(_.getLong(0)).toSeq
      assert(withCodegen == interpreted)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }
}
